package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.io.TableFormat

/** Writes beside reads on one format table: one SQL client runs the seeded
  * script of rounds (DML commits, an incremental view refresh, point,
  * range, count, group-by, time-travel and view reads; OPTIMIZE and VACUUM
  * on the rounds the script marks).
  */
final class LakehouseWl(c: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  val name = "lakehouse"
  private val spark = c.spark
  private val Provider = classOf[graft.io.TableFormatSourceProvider].getName
  private val script = Json.read(s"${c.inputs}/script.json").get("rounds")
  private var table = ""
  private var root = ""
  private var mv = ""
  private var nextRound = 0
  private val timed = mutable.ArrayBuffer.empty[Op]
  /** Every statement of the current table, with read results, in order. */
  private val log = mutable.ArrayBuffer.empty[Map[String, Any]]
  // traced-run accumulators
  private val planMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var pointFiles, pointScanned, pointReturned = 0L
  private var dmlBytes, dmlRows = 0L

  /** Row values of inserted and merged rows: functions of (key, salt)
    * only, mirrored by the oracle's replay.
    */
  private def rowExprs(k: String, salt: Long): String = {
    val key = s"CAST($k AS BIGINT)"
    Seq(s"$key AS o_orderkey",
      s"($key * 7919 + $salt) % 100000 AS o_custkey",
      s"CASE ($key + $salt) % 3 WHEN 0 THEN 'O' WHEN 1 THEN 'F' " +
        "ELSE 'P' END AS o_status",
      s"($key * 31337 + $salt) % 50000000 AS o_totalcents",
      s"date_add(DATE '2020-01-01', CAST(($key + $salt) % 1500 AS INT)) " +
        "AS o_orderdate",
      s"concat(CAST(($key + $salt) % 5 + 1 AS STRING), '-P') AS o_priority")
      .mkString(", ")
  }

  private def longs(n: JsonNode): Seq[Long] =
    n.elements().asScala.map(_.asLong).toSeq

  override def land(k: Int): Unit = {
    Util.releaseCaches()
    table = s"lh$k"
    root = c.dir(s"lh$k") + "/t"
    mv = c.dir(s"lh$k") + "/mv"
    log.clear()
    spark.sql(s"""CREATE TABLE $table USING `$Provider`
      OPTIONS (path '$root', statsCols 'o_orderkey')
      AS SELECT * FROM parquet.`${c.inputs}/orders.parquet`""")
    spark.sql(s"""CREATE MATERIALIZED VIEW '$mv' AS SELECT o_status,
      count(*) AS n, sum(o_totalcents) AS s FROM '$root' GROUP BY o_status""")
    nextRound = 0
  }

  def warmup(tr: Tracer): Unit = { round(tr, measure = false); () }

  def iteration(tr: Tracer): Double = round(tr, measure = true)

  private def round(tr: Tracer, measure: Boolean): Double = {
    val ri = nextRound
    require(ri < script.size, s"lakehouse script exhausted at round $ri")
    nextRound += 1
    val r = script.get(ri)
    val salt = r.get("salt").asLong
    val startVersion = TableFormat.latestVersion(root)
    var n = 0

    def stmt(kind: String, sql: String, read: Boolean, changed: Long = 0L)
        : Unit = {
      n += 1
      statement(tr, measure, ri, kind, sql, read, changed)
    }

    val ins = longs(r.get("insert"))
    stmt("insert", s"INSERT INTO $table SELECT ${rowExprs("id", salt)} " +
      s"FROM range(${ins(0)}, ${ins(1) + 1})", read = false,
      changed = ins(1) - ins(0) + 1)
    val merge = longs(r.get("merge"))
    stmt("merge", s"""MERGE INTO $table t USING (SELECT
      ${rowExprs("k", salt + 500000)} FROM VALUES
      ${merge.map(k => s"($k)").mkString(", ")} AS v(k)) s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""",
      read = false, changed = merge.size)
    val upd = longs(r.get("update"))
    stmt("update", s"UPDATE $table SET o_status = 'U', " +
      "o_totalcents = o_totalcents + 100 WHERE o_orderkey IN " +
      upd.mkString("(", ", ", ")"), read = false, changed = upd.size)
    val del = longs(r.get("delete"))
    stmt("delete", s"DELETE FROM $table WHERE o_orderkey IN " +
      del.mkString("(", ", ", ")"), read = false, changed = del.size)
    stmt("refresh", s"REFRESH MATERIALIZED VIEW '$mv'", read = false)
    longs(r.get("points")).foreach { k =>
      stmt("point", s"SELECT * FROM $table WHERE o_orderkey = $k", read = true)
    }
    val rg = longs(r.get("range"))
    stmt("range", s"SELECT count(*) AS n, sum(o_totalcents) AS s FROM " +
      s"$table WHERE o_orderkey BETWEEN ${rg(0)} AND ${rg(1)}", read = true)
    stmt("count", s"SELECT count(*) AS n FROM $table", read = true)
    stmt("groupby", s"SELECT o_status, count(*) AS n, sum(o_totalcents) " +
      s"AS s FROM $table GROUP BY o_status ORDER BY o_status", read = true)
    stmt("timetravel", s"SELECT count(*) AS n, sum(o_totalcents) AS s " +
      s"FROM $table VERSION AS OF $startVersion", read = true)
    stmt("mvread", s"SELECT o_status, n, s FROM graft_mv('$mv') " +
      "ORDER BY o_status", read = true)
    if (r.get("maintenance").asBoolean) {
      stmt("optimize", s"OPTIMIZE '$root'", read = false)
      stmt("vacuum", s"VACUUM '$root' KEEP LAST 8", read = false)
    }
    n.toDouble
  }

  /** Run one statement, timed and logged (reads with their results). */
  private def statement(tr: Tracer, measure: Boolean, ri: Int, kind: String,
      sql: String, read: Boolean, changed: Long): Unit = {
    val bytesBefore = if (tr.on && changed > 0) dataBytes() else 0L
    val t = System.nanoTime()
    val res = c.attempt(s"round $ri $kind") {
      tr.span(spanName(kind)) {
        val df = spark.sql(sql)
        val rows = df.collect()
        if (tr.on && read) traceRead(kind, df, rows.length)
        rows.map(Util.rowString).toSeq
      }
    }
    val ms = (System.nanoTime() - t) / 1e6
    if (tr.on && changed > 0) {
      dmlBytes += math.max(0L, dataBytes() - bytesBefore)
      dmlRows += changed
    }
    if (measure) timed += Op(kind, ms)
    log += Map("round" -> ri, "kind" -> kind, "sql" -> sql,
      "ok" -> res.isDefined,
      "result" -> (if (read) res.getOrElse(Nil) else Nil))
  }

  private val commitKinds = Set("insert", "merge", "update", "delete")
  private val readKinds =
    Set("point", "range", "count", "groupby", "timetravel", "mvread")

  private def spanName(kind: String): String =
    if (kind == "refresh") "matview.refresh"
    else if (readKinds(kind)) s"read.$kind"
    else s"tableformat.$kind"

  private def dataBytes(): Long = Util.bytesUnder(root)

  private def traceRead(kind: String, df: DataFrame, returned: Int): Unit = {
    val ph = df.queryExecution.tracker.phases
    planMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
    if (kind == "point") {
      val scans = collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.isInstanceOf[graft.io.ManifestFileIndex] =>
          s
      }
      pointFiles += scans.map(_.metrics("numFiles").value).sum
      pointScanned += scans.map(_.metrics("numOutputRows").value).sum
      pointReturned += returned
    }
  }

  private def liveFiles(): Long = {
    val v = TableFormat.latestVersion(root)
    TableFormat.snapshotDirs(root, v).map(d =>
      Util.files(d).count(_.toString.endsWith(".parquet"))).sum.toLong
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    def med(n: String) = Util.median(tr.named(n).map(_.ms))
    val liveBytes = writeLive(s"${c.work}/out/lakehouse_live_probe")
    val rowBytes = liveBytes.toDouble / math.max(1L,
      spark.sql(s"SELECT count(*) FROM $table").head().getLong(0))
    Map(
      "tableformat.insert_ms" -> med("tableformat.insert"),
      "tableformat.merge_ms" -> med("tableformat.merge"),
      "tableformat.update_ms" -> med("tableformat.update"),
      "tableformat.delete_ms" -> med("tableformat.delete"),
      "tableformat.optimize_ms" -> med("tableformat.optimize"),
      "tableformat.vacuum_ms" -> med("tableformat.vacuum"),
      "matview.refresh_ms" -> med("matview.refresh"),
      "tableformat.bytes_rewritten_per_changed_byte" ->
        dmlBytes / math.max(1.0, dmlRows * rowBytes),
      "tableformat.files_live" -> liveFiles().toDouble,
      "tableformat.files_total" ->
        Util.files(root).count(_.toString.endsWith(".parquet")).toDouble,
      "sql.plan_ms" -> Util.median(planMs.values.map(xs =>
        Util.median(xs.toSeq)).toSeq),
      "manifest.files_read_per_point_read" ->
        pointFiles.toDouble / math.max(1, tr.named("read.point").size),
      "manifest.rows_scanned_per_row_returned" ->
        pointScanned.toDouble / math.max(1L, pointReturned),
      "manifest.count_jobs" ->
        Util.median(tr.named("read.count").map(_.counters("jobs"))))
  }

  /** Write the live rows as one plain parquet file set; returns its bytes. */
  private def writeLive(path: String): Long = {
    spark.sql(s"SELECT * FROM $table ORDER BY o_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(path)
    Util.files(path).filter(_.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
  }

  /** Median and tail of a latency sample. A run measures one round, too
    * few samples for a percentile with ten samples beyond it, so the tail
    * is the maximum, reported with the sample count.
    */
  private def pct(xs: Seq[Double]): Map[String, Any] =
    Map("p50_ms" -> Util.median(xs),
      "tail_ms" -> (if (xs.isEmpty) Double.NaN else xs.max),
      "samples" -> xs.size)

  def finish(): Map[String, Any] = {
    val outTable = s"${c.work}/out/lakehouse_table"
    val liveBytes = writeLive(outTable)
    spark.sql(s"SELECT o_status, n, s FROM graft_mv('$mv') ORDER BY o_status")
      .coalesce(1).write.mode("overwrite").parquet(s"${c.work}/out/lakehouse_mv")
    val logPath = s"${c.work}/out/lakehouse_log.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(logPath),
      Json.write(Map("rounds" -> nextRound, "statements" -> log)))
    Map("table" -> outTable, "mv" -> s"${c.work}/out/lakehouse_mv",
      "log" -> logPath,
      "commit" -> pct(timed.filter(o => commitKinds(o.kind)).map(_.ms).toSeq),
      "read" -> pct(timed.filter(o => readKinds(o.kind)).map(_.ms).toSeq),
      "statement_ms" -> timed.groupBy(_.kind).map { case (k, os) =>
        k -> Util.median(os.map(_.ms).toSeq) },
      "bytes_per_user_byte" -> Util.bytesUnder(root).toDouble / liveBytes,
      "rounds" -> nextRound)
  }
}
