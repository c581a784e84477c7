package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (driven by `perfbench/run.py`).
  *
  * {{{
  * Main --mode {run|trace} --workload <w>[,<w>...] --inputs <dir>
  *      --work <dir> --seconds <s> --reps <k> --out <result.json>
  * }}}
  *
  * Workloads run one after the other in one session; each reads its inputs
  * from `<inputs>/<workload>`. Both modes land the inputs `reps` times
  * (fresh state each time) and run one untimed warm-up iteration. `run`
  * then runs the workload's iteration in a closed loop for `seconds`, with
  * tracing off. `trace` runs one traced iteration instead (for the first
  * workload of the session, the same position as the first measured
  * iteration of `run`, so the two wall times give the tracing overhead),
  * then the workload's per-layer calls, each in a span carrying engine
  * counters.
  */
object Main {

  private def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
  }

  private def workload(name: String, c: Ctx): Workload = name match {
    case "migrate" => new MigrateWl(c)
    case "corpus" => new CorpusWl(c)
    case "lakehouse" => new LakehouseWl(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val oracleKeys = Map(
    "migrate" -> Seq("q_migrate_bundle"),
    "corpus" -> Seq("q_corpus_pipeline", "q_dedup_embed_components"),
    "lakehouse" -> Nil)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    System.setProperty("derby.system.home", s"$work/derby-home")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val (spark, sessionS) = Util.timed(session(work))
    spark.sparkContext.setLogLevel("ERROR")
    Heap.install()
    val result = mutable.LinkedHashMap.empty[String, Any]
    var attempted, failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    try opt("workload").split(",").foreach { w =>
      val c = new Ctx(spark, s"${opt("inputs")}/$w", Files.createDirectories(
        Paths.get(work, w)).toString)
      val reps = opt("reps").toInt
      val r = try {
        val wl = workload(w, c)
        if (opt("mode") == "trace") traceOne(c, wl, reps)
        else runOne(c, wl, opt("seconds").toDouble, reps)
      } catch {
        // a workload that dies still reports: the failure is counted and
        // the result file is written, so the caller never reads stale data
        case e: Exception =>
          c.attempted.incrementAndGet()
          c.fail(s"aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
          mutable.LinkedHashMap.empty[String, Any]
      }
      r("session_s") = sessionS
      r("oracle_sql") = oracleKeys(w).map(k =>
        k -> graft.SparkEntry.oracleSql(k)).toMap
      result(w) = r
      attempted += c.attempted.get
      failed += c.failed.get
      errors ++= c.errors.map(e => s"$w: $e")
      Util.releaseCaches()
    } finally spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.write(Map(
      "workloads" -> result, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors)))
  }

  private def runOne(c: Ctx, wl: Workload, seconds: Double, reps: Int)
      : mutable.Map[String, Any] = {
    val off = new Tracer(c.spark, on = false, runId = wl.name)
    val landReps = (0 until reps).map(k => Util.timed(wl.land(k))._2)
    val (_, warmupS) = Util.timed(wl.warmup(off))
    Heap.reset()
    val iters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    // start another iteration only while it is expected to end inside the
    // window, so every run measures about `seconds` and whole iterations
    def fits = (System.nanoTime() - t0) / 1e9 +
      Util.median(iters.map(_("s")).toSeq) <= seconds
    while (iters.isEmpty || fits) {
      val (items, s) = Util.timed(wl.iteration(off))
      iters += Map("s" -> s, "items" -> items)
    }
    val peak = Heap.peakMb()
    mutable.LinkedHashMap("land_reps_s" -> landReps, "warmup_s" -> warmupS,
      "iterations" -> iters,
      "peak_heap_mb" -> peak, "outputs" -> c.attempt("finish")(wl.finish())
        .getOrElse(Map.empty))
  }

  private def traceOne(c: Ctx, wl: Workload, reps: Int)
      : mutable.Map[String, Any] = {
    val off = new Tracer(c.spark, on = false, runId = wl.name)
    val landReps = (0 until reps).map(k => Util.timed(wl.land(k))._2)
    val (_, warmupS) = Util.timed(wl.warmup(off))
    val tr = new Tracer(c.spark, on = true, runId = wl.name)
    Heap.reset()
    val (_, tracedS) = Util.timed(wl.iteration(tr))
    val peak = Heap.peakMb()
    val layers = try wl.layerMetrics(tr) finally tr.close()
    // engine counters summed per span name
    val engine = tr.spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.head.counters.keys.map(k =>
        k -> (if (k == "task_skew") ss.map(_.counters(k)).max
              else ss.map(_.counters(k)).sum)).toMap
    }
    val spans = tr.spans.map(s => Map("name" -> s.name, "id" -> s.id,
      "parent" -> s.parent, "run" -> s.runId, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "counters" -> s.counters))
    mutable.LinkedHashMap("land_reps_s" -> landReps, "warmup_s" -> warmupS,
      "traced_s" -> tracedS, "peak_heap_mb" -> peak,
      "layers" -> layers, "engine" -> engine, "spans" -> spans,
      "outputs" -> c.attempt("finish")(wl.finish()).getOrElse(Map.empty))
  }
}
