package graft.perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.etl.Migration
import graft.io.Sources

/** The paper's own job: derive the seven-table OpenMRS bundle from the
  * roster and append it over JDBC into a fresh embedded-Derby database per
  * iteration (the only JDBC target available offline).
  */
final class MigrateWl(c: Ctx) extends Workload {
  val name = "migrate"
  private val spark = c.spark
  private val derbyHome = c.dir("derby")
  private var lastUrl: Option[String] = None
  private var seq = 0
  private var tracedRows = 0L

  private def freshUrl(): String = {
    // drop the previous database before opening the next one, so a run
    // holds at most one on disk
    lastUrl.foreach(dropDb)
    seq += 1
    val u = s"jdbc:derby:$derbyHome/db$seq;create=true"
    lastUrl = Some(u)
    u
  }

  private def dropDb(url: String): Unit = {
    val path = url.stripPrefix("jdbc:derby:").takeWhile(_ != ';')
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true")
    catch { case _: java.sql.SQLException => () } // 08006 = clean shutdown
    Util.rmrf(path)
  }

  private def migrateOnce(): Double = {
    val counts = graft.Migrate.run(spark, c.inputs, "", Some(freshUrl()))
    counts.foreach { case (t, source, landed) =>
      c.check(s"$t landed $landed of $source rows")(source == landed)
    }
    Util.releaseCaches()
    counts.map(_._3).sum.toDouble
  }

  def warmup(tr: Tracer): Unit = { migrateOnce(); () }

  def iteration(tr: Tracer): Double =
    if (!tr.on) c.attempt("migrate")(migrateOnce()).getOrElse(0.0)
    else tracedOnce(tr)

  /** `Migrate.run`'s exact call sequence with a span around each layer
    * call: derive (source count), JDBC append, and the count read-backs.
    */
  private def tracedOnce(tr: Tracer): Double = {
    val url = freshUrl()
    // as in `Migrate.run`: only a missing table (SQLSTATE 42X05, 42S02 or
    // 42P01 on the cause chain) counts as 0 rows; any other error propagates
    def tableMissing(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
        case s: java.sql.SQLException =>
          Set("42X05", "42S02", "42P01").contains(String.valueOf(s.getSQLState))
        case _ => false
      }
    def jdbcCount(t: String): Long =
      try spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load().count()
      catch { case e: Exception if tableMissing(e) => 0L }
    val bundle = Migration.migrateAll(spark, c.inputs)
    val landed = bundle.map { case (t, df) =>
      val source = tr.span("migration.derive")(df.count())
      val before = tr.span("migrate.verify")(jdbcCount(t))
      tr.span("sources.jdbc_append")(Sources.jdbcAppend(df, url, t))
      val n = tr.span("migrate.verify")(jdbcCount(t)) - before
      c.check(s"$t landed $n of $source rows")(n == source)
      n
    }
    Util.releaseCaches()
    tracedRows = landed.sum
    tracedRows.toDouble
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    // surrogate keys over the roster, forced once, as its own span
    tr.span("migration.surrogate") {
      Migration.surrogateKeysScaled(Sources.table(spark, c.inputs, "customer"),
        col("c_custkey"), "person_id").count()
    }
    Util.releaseCaches()
    def total(n: String) = tr.named(n).map(_.ms).sum
    Map(
      "migration.surrogate_ms" -> total("migration.surrogate"),
      "migration.derive_ms" -> total("migration.derive"),
      "sources.jdbc_append_ms" -> total("sources.jdbc_append"),
      "sources.jdbc_rows_per_s" ->
        tracedRows / (total("sources.jdbc_append") / 1000.0),
      "migrate.verify_ms" -> total("migrate.verify"),
      "migrate.spark_jobs" -> tr.spans.filter(_.parent < 0)
        .filterNot(_.name == "migration.surrogate")
        .map(_.counters("jobs")).sum)
  }

  /** Per-row digests of the last database's seven tables, in the form of
    * `q_migrate_bundle`, for the DuckDB oracle to check.
    */
  def finish(): Map[String, Any] = {
    val url = lastUrl.getOrElse(sys.error("no migration ran"))
    val tables = Seq("person", "person_name", "person_address",
      "person_attribute", "patient", "patient_identifier",
      "dreams_client_patient_mapping")
    val digests = tables.map { t =>
      val df = spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load()
      val all = df.columns.map(x => coalesce(col(x).cast(StringType),
        lit("~null~")))
      df.select(lit(t).as("tbl"), col(df.columns.head).as("key"),
        md5(concat_ws("|", all.toIndexedSeq: _*)).as("row_digest"))
    }.reduce(_ unionByName _).orderBy("tbl", "key", "row_digest")
    val out = s"${c.work}/out/migrate_bundle"
    digests.coalesce(1).write.mode("overwrite").parquet(out)
    dropDb(url)
    lastUrl = None
    Map("q_migrate_bundle" -> out)
  }
}
