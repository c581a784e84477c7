package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a LARGER deterministic dataset from an existing
  * SF dir so the bench's core-scaling axis has something to measure —
  * `runMain graft.ScaleFixture <srcDir> <dstDir> <replicas>`.
  *
  * Round-21 VERDICT item 2: at sf0.1 every query is fixed-overhead
  * dominated, so 8-core vs 32-core ratios read ≈1 everywhere and the
  * driver's scaling check (`suspect_cpus_ignored`) cannot distinguish
  * "honors `$SPARK_GRAFT_CPUS`" from "ignores it". This fixture exists
  * ONLY to produce a committed scaling capture on the heavy keys
  * (`BENCH_r22_scaling_*`); it is never an oracle or correctness input,
  * and the bench contract (env vars, JSON line) is untouched.
  *
  * Replication is NOT naive duplication — exact copies would inflate
  * every dedup/LSH bucket by the replica count and melt the near-dup
  * graph into giant components, measuring a skew pathology instead of
  * scale. Each replica r > 0 is instead a deterministic ISOMORPHIC
  * rewrite that preserves per-replica structure and keeps replicas
  * disjoint:
  *
  *   - ids shift by r·10⁹ (doc/vec/order/part/supp/cust/event keys move
  *     together, so join fan-outs stay linear);
  *   - document tokens get a per-replica suffix, EXCEPT the en/es
  *     stopwords the quality/langid rules key on — keepRule and language
  *     signals are preserved per doc, while shingle/gram/bigram universes
  *     stay (near-)disjoint across replicas, so near-dup structure per
  *     replica matches the source corpus (only all-stopword shingles are
  *     shared — bounded by the source's max bucket × replicas, far under
  *     MaxBandBucket);
  *   - embeddings pass through a per-replica SIGNED PERMUTATION (rotate
  *     dimensions by 7r, alternate sign flips) — an orthogonal map, so
  *     intra-replica norms and cosines are exactly the source's while
  *     cross-replica cosines decorrelate; LSH bucket sizes are only
  *     approximately the source's, because the fixed sign-LSH hyperplanes
  *     do not rotate with the replica;
  *   - nation/region stay fixed dims (every replica's customers reference
  *     the same 25 nations, as a bigger TPC-H would).
  */
object ScaleFixture {

  private val Shift = 1000000000L

  // embedding width the signed permutation is built for
  private val Dim = 64

  // the stopword lists the corpus quality/langid rules key on
  // (TextOps.EnStop / EsStop) — token mutation must preserve these
  private val Stops = Seq("the", "a", "and", "of", "to", "in", "is",
    "el", "la", "de", "que", "y", "en", "un")

  private def mutTokens(text: Column, r: Int): Column =
    when(lit(r) === 0, text).otherwise(
      array_join(transform(split(text, " "), w =>
        when(w === "" || w.isin(Stops.map(x => x: Any): _*), w)
          .otherwise(concat(w, lit("x" + r)))), " "))

  private def rotEmb(emb: Column, r: Int): Column =
    if (r == 0) emb
    else transform(sequence(lit(0), lit(Dim - 1)), i =>
      (element_at(emb, pmod(i + 7 * r, lit(Dim)) + 1) *
        when(pmod(i + r, lit(2)) === 0, 1.0f).otherwise(-1.0f))
        .cast("float"))

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleFixture <srcDir> <dstDir> <replicas>")
    val (src, dst, reps) = (args(0), args(1), args(2).toInt)
    require(reps >= 1, s"replicas must be >= 1, got $reps")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // `ids` are the columns `mut` shifts: a source id at or past Shift
    // would collide with the next replica's ids
    def replicated(t: String, ids: String*)(
        mut: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      val top = base.select(ids.map(c => max(col(c))): _*).head()
      ids.indices.filterNot(top.isNullAt).foreach { i =>
        require(top.getAs[Number](i).longValue < Shift,
          s"$t.${ids(i)} reaches the replica id shift $Shift")
      }
      wr((0 until reps).map(r => mut(base, r)).reduce(_ unionByName _), t)
    }

    def shift(c: String, r: Int): Column = col(c) + lit(r * Shift)

    require(rd("embeddings").filter(size(col("embedding")) =!= Dim).isEmpty,
      s"every embedding must have $Dim dimensions")
    replicated("documents", "doc_id") { (d, r) =>
      val txt = mutTokens(col("text"), r)
      d.select(shift("doc_id", r).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), length(txt).cast("long").as("n_chars"))
    }
    replicated("embeddings", "vec_id") { (d, r) =>
      d.select(shift("vec_id", r).as("vec_id"),
        rotEmb(col("embedding"), r).as("embedding"), col("label"))
    }
    replicated("lineitem", "l_orderkey", "l_partkey", "l_suppkey") { (d, r) =>
      d.select(shift("l_orderkey", r).as("l_orderkey"),
        shift("l_partkey", r).as("l_partkey"),
        shift("l_suppkey", r).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    replicated("orders", "o_orderkey", "o_custkey") { (d, r) =>
      d.select(shift("o_orderkey", r).as("o_orderkey"),
        shift("o_custkey", r).as("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }
    replicated("customer", "c_custkey") { (d, r) =>
      d.select(shift("c_custkey", r).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    replicated("part", "p_partkey") { (d, r) =>
      d.select(shift("p_partkey", r).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    replicated("supplier", "s_suppkey") { (d, r) =>
      d.select(shift("s_suppkey", r).as("s_suppkey"), col("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }
    replicated("events", "event_id", "user_id") { (d, r) =>
      d.select(shift("event_id", r).as("event_id"), col("ts"),
        shift("user_id", r).as("user_id"), col("event_type"),
        col("value"), col("props"))
    }
    // fixed dimensions: copy once
    Seq("nation", "region").foreach(t => wr(rd(t), t))
    spark.stop()
  }
}
