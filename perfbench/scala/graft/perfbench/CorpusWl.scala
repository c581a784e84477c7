package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** The LLM data-pipeline path: the composed corpus pipeline (filter, exact
  * dedup, MinHash near-dup clusters, split, decontamination, packing) and
  * the embedding near-dup components, each run from released caches and
  * written out.
  */
final class CorpusWl(c: Ctx) extends Workload {
  val name = "corpus"
  private val spark = c.spark
  private lazy val docs =
    spark.read.parquet(s"${c.inputs}/documents.parquet").count()
  private val outputs = Seq("q_corpus_pipeline", "q_dedup_embed_components")

  private def query(key: String): DataFrame =
    graft.SparkEntry.queries(key)(spark, c.inputs)

  private def out(key: String) = s"${c.work}/out/$key"

  private def once(tr: Tracer): Double = {
    Util.releaseCaches()
    outputs.foreach { k =>
      tr.span(s"corpus.write.$k") {
        query(k).coalesce(1).write.mode("overwrite").parquet(out(k))
      }
    }
    docs.toDouble
  }

  def warmup(tr: Tracer): Unit = { once(tr); () }

  def iteration(tr: Tracer): Double =
    c.attempt("corpus")(once(tr)).getOrElse(0.0)

  /** Registry stage entries in pipeline order, each forced once from
    * released caches; later stages reuse the memos earlier ones built.
    */
  private val stages = Seq(
    "textops.filter" -> "q_corpus_filter",
    "dedup.exact" -> "q_dedup_exact",
    "dedup.minhash" -> "q_dedup_minhash",
    "dedup.components" -> "q_dedup_cc_sizes",
    "textops.split" -> "q_corpus_split",
    "textops.decontam" -> "q_decontaminate",
    "textops.pack" -> "q_pack_sequences",
    "textops.pipeline" -> "q_corpus_pipeline",
    "dedup.embed_components" -> "q_dedup_embed_components")

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    Util.releaseCaches()
    stages.foreach { case (span, key) =>
      tr.span(span)(query(key).write.format("noop").mode("overwrite").save())
    }
    // waste and skew counters, outside the spans
    val maxComponent = query("q_dedup_cc_sizes")
      .agg(max(col("n_docs"))).head().getLong(0).toDouble
    val dup = Dedup.dupPairs(spark, c.inputs).count()
    val lsh = Dedup.bucketPairs(Dedup.repBands(spark, c.inputs)).count()
    val verified = query("q_dedup_fuzzy")
      .filter(col("jaccard") >= 0.5).count()
    Util.releaseCaches()
    val candidates = (lsh + dup).toDouble
    val m = stages.map { case (span, _) =>
      s"$span" + "_ms" -> tr.named(span).map(_.ms).sum
    }.toMap
    m ++ Map(
      "dedup.lsh_candidate_pairs" -> candidates,
      // exact-dup edges are verified by construction (identical text)
      "dedup.lsh_pair_yield" ->
        (if (candidates == 0) 0.0 else (verified + dup) / candidates),
      "dedup.max_component_docs" -> maxComponent,
      "dedup.embed_shuffle_bytes" ->
        tr.named("dedup.embed_components").map(_.counters(
          "shuffle_write_bytes")).sum,
      "caches.persisted_bytes_peak" -> tr.persistedPeak.toDouble)
  }

  def finish(): Map[String, Any] = outputs.map(k => k -> out(k)).toMap
}
