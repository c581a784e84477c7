package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What every workload shares: the session, its inputs, a private work
  * directory, and the ledger of attempted and failed operations.
  */
final class Ctx(val spark: SparkSession, val inputs: String,
    val work: String) {
  val attempted = new java.util.concurrent.atomic.AtomicLong()
  val failed = new java.util.concurrent.atomic.AtomicLong()
  val errors = mutable.ArrayBuffer.empty[String]

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }

  /** Count one operation; a thrown exception counts as a failure and is
    * recorded, never propagated, so one bad op cannot hide the others.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Record a mis-answered (or failed) operation. */
  def fail(msg: String): Unit = synchronized {
    failed.incrementAndGet()
    if (errors.size < 50) errors += msg.take(500)
  }

  /** Check a condition as a counted operation. */
  def check(what: String)(ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(s"check failed: $what")
  }
}

/** One timed statement: its kind and latency. */
final case class Op(kind: String, ms: Double)

/** A benchmark workload. `iteration` is the closed-loop unit of work
  * (one client, next call only after the previous completes).
  */
trait Workload {
  def name: String
  /** Fresh state and the initial landing of the inputs (repeated). */
  def land(k: Int): Unit = ()
  /** One untimed warm-up iteration on the last landing. */
  def warmup(tr: Tracer): Unit
  /** One measured unit of work; returns the items it processed. */
  def iteration(tr: Tracer): Double
  /** Extra traced calls made only in the traced run, and the per-layer
    * metrics derived from the traced spans.
    */
  def layerMetrics(tr: Tracer): Map[String, Double]
  /** Write the outputs the oracle checks; returns their description. */
  def finish(): Map[String, Any]
}

object Util {
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def bytesUnder(root: String): Long = files(root).map(Files.size).sum

  def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[Path]
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f)) b += f
        }
        b.result()
      } finally s.close()
    }
  }

  def rmrf(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        val all = s.iterator()
        val b = Seq.newBuilder[Path]
        while (all.hasNext) b += all.next()
        b.result().reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }
  }

  /** A result row as one '|'-joined string, the form the oracle replays. */
  def rowString(r: Row): String =
    r.toSeq.map(v => String.valueOf(v)).mkString("|")

  /** Release every operator memo and persisted frame: the corpus memos via
    * `Dedup.clearCaches`, plus the table-format, materialized-view and
    * index memos it does not reach.
    */
  def releaseCaches(): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.io.TableFormat.clearMemos()
    graft.io.MatView.clearMemos()
    graft.ops.IndexSync.clearMemos()
  }
}
