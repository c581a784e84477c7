package graft

import org.apache.spark.sql.functions._

/** Degenerate-input hardening for the text/dedup/similarity tier: a
  * 100 TB pipeline WILL contain empty partitions, sub-shingle docs,
  * nulls, and non-ASCII text, and an operator that crashes on them takes
  * the whole job down. Every query here must return (possibly empty)
  * results, never throw.
  */
class EdgeCasesSpec extends TestSpark {

  import spark.implicits._

  private val keys = Seq("q_simjoin_prefix", "q_simjoin_cosine",
    "q_heavy_hitters", "q_text_postings", "q_text_phrase", "q_text_tf",
    "q_dedup_minhash", "q_dedup_exact", "q_pack_sequences",
    "q_chunk_docs", "q_dedup_intradoc")

  // Per-process temp root: two concurrent `sbt test` runs (e.g. a manual
  // run racing a driver run) must not clobber each other's landed parquet
  // mid-read — fixed /tmp names did exactly that once.
  private val tmpRoot =
    java.nio.file.Files.createTempDirectory("graft_edge_").toString

  private def land(dir: String, rows: Seq[(Long, String)]): Unit = {
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.Memo.releasePass()
  }

  test("an EMPTY documents table yields empty results, never a crash") {
    val dir = s"$tmpRoot/empty"
    land(dir, Seq.empty)
    keys.foreach { k =>
      val n = SparkEntry.queries(k)(spark, dir).count()
      assert(n === 0, s"$k returned $n rows on an empty corpus")
    }
    graft.Memo.releasePass()
  }

  test("sub-shingle and whitespace-only docs flow through the shingle tier") {
    val dir = s"$tmpRoot/short"
    // nothing here has 3 tokens, so every shingle set is empty
    land(dir, Seq((1L, "hi"), (2L, ""), (3L, "   "), (4L, "one two")))
    assert(SparkEntry.queries("q_simjoin_prefix")(spark, dir).count() === 0)
    assert(SparkEntry.queries("q_dedup_minhash")(spark, dir).count() === 0)
    // non-shingle ops still see the docs
    assert(SparkEntry.queries("q_pack_sequences")(spark, dir).count() === 4)
    graft.Memo.releasePass()
  }

  test("null and unicode text rows survive the token pipelines") {
    val dir = s"$tmpRoot/unicode"
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(1L, null),
          org.apache.spark.sql.Row(2L, "héllo wörld héllo wörld héllo"),
          org.apache.spark.sql.Row(3L, "日本語 トークン 分割 日本語 トークン 分割"))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType, nullable = true))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.Memo.releasePass()
    // postings count the unicode tokens; the null row contributes none
    val postings = SparkEntry.queries("q_text_postings")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(postings("héllo") === 3L)
    assert(postings("日本語") === 2L)
    assert(!postings.contains(null))
    // shingle tier: doc 2 and 3 have ≥3 tokens, pair similarity is
    // exact — identical-prefix docs must not collide across scripts
    val sim = SparkEntry.queries("q_simjoin_prefix")(spark, dir).count()
    assert(sim === 0, "cross-script docs share no shingles")
    graft.Memo.releasePass()
  }
}
