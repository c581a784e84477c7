package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative engine counters, fed by the listener bus. */
final class Counters extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  /** Task durations (ms) per stage, and each stage's wall time. */
  val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageWall((i.stageId, i.attemptNumber())) = c - s
    }

  def snapshot(): Snap = synchronized {
    Snap(jobs, tasks, cpuNs, schedDelayMs, shuffleWrite, spill, gcMs,
      stageTasks.keySet.toSet)
  }

  /** Max over median task time in the slowest stage that ran since `from`
    * (1.0 when no stage ran).
    */
  def skewSince(from: Snap): Double = synchronized {
    val fresh = stageTasks.keySet -- from.stages
    if (fresh.isEmpty) 1.0
    else {
      val slowest = fresh.maxBy(k => stageWall.getOrElse(k, 0L))
      val d = stageTasks(slowest).sorted
      val med = d(d.size / 2).toDouble
      if (med <= 0) d.last.toDouble.max(1.0) else d.last / med
    }
  }
}

final case class Snap(jobs: Long, tasks: Long, cpuNs: Long,
    schedDelayMs: Long, shuffleWrite: Long, spill: Long, gcMs: Long,
    stages: Set[(Int, Int)])

/** One recorded span: a call into a layer made by the benchmark. */
final case class Span(name: String, id: Int, parent: Int, runId: String,
    startMs: Double, endMs: Double, counters: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** Span recorder. With `on = false` it only runs the body, so the same
  * workload code serves the untraced and the traced run. Spans are kept in
  * memory and written out when the benchmark ends.
  */
final class Tracer(spark: SparkSession, val on: Boolean, val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  private val t0 = System.nanoTime()
  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  /** Peak bytes of persisted RDD blocks seen at any span boundary. */
  var persistedPeak = 0L

  if (on) sc.addSparkListener(counters)

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private def persistedNow(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters.snapshot()
      val start = nowMs
      stack.push(id)
      val out = try body finally stack.pop()
      val end = nowMs
      org.apache.spark.perfbench.Bus.drain(sc)
      val after = counters.snapshot()
      persistedPeak = math.max(persistedPeak, persistedNow())
      spans += Span(name, id, parent, runId, start, end, Map(
        "jobs" -> (after.jobs - before.jobs).toDouble,
        "tasks" -> (after.tasks - before.tasks).toDouble,
        "cpu_ms" -> (after.cpuNs - before.cpuNs) / 1e6,
        "scheduler_delay_ms" ->
          (after.schedDelayMs - before.schedDelayMs).toDouble,
        "shuffle_write_bytes" ->
          (after.shuffleWrite - before.shuffleWrite).toDouble,
        "spill_bytes" -> (after.spill - before.spill).toDouble,
        "gc_ms" -> (after.gcMs - before.gcMs).toDouble,
        "task_skew" -> counters.skewSince(before)))
      out
    }

  /** Spans named `name`, in recording order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def close(): Unit = if (on) sc.removeSparkListener(counters)
}

/** Peak JVM heap in use after a collection, from the GC notifications of
  * the memory pools, over the window since the last `reset()`.
  */
object Heap {
  @volatile private var peak = 0L

  private def usedNow(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[
                javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, after) }
          }
        }, null, null)
      case _ =>
    }

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak post-collection heap in MB; the current use when no collection
    * ran in the window.
    */
  def peakMb(): Double = synchronized {
    (if (peak > 0) peak else usedNow()) / (1024.0 * 1024.0)
  }
}
