package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.io.Sources

/** The one memo of the engine: every shared build an operator reuses
  * across queries (persisted band rows, token frames, codebooks, landed
  * fixture paths, settled scalars) is one entry here.
  *
  * An entry is keyed on (site, session, dir, extra args) plus the content
  * [[Sources.fingerprint]] of `dir`, so a result is reused only while its
  * input is unchanged. A session must never receive frames bound to
  * another (possibly stopped) session, hence the session in the key.
  * Rewriting `dir` inside a session supersedes every entry built from the
  * old content: the first memo call or [[Sources.table]] read that sees the
  * new fingerprint unpersists them and releases the pinned frames. Both
  * must go before anything is rebuilt, because Spark's CacheManager serves
  * a cached plan to any later plan reading the same paths, and a stale
  * persist left in place would shadow the fresh build.
  *
  * Each key is built at most once, even with concurrent callers: the
  * build runs under a per-key lock, so a build may call other memos, and
  * a build that throws leaves no entry behind.
  *
  * Lifetimes: [[Pass]] entries are released by [[releasePass]] at the
  * Bench/Verify pass boundary, so each pass's first consumer pays the
  * build again; [[Standing]] entries (landed fixture paths, settled
  * scalars) stay until [[releaseAll]] or an input rewrite.
  *
  * Contract: after a release, previously returned plans remain executable
  * but re-evaluate their inputs uncached; callers re-running a
  * boundary-sensitive plan (surrogate keys, scaled ntile) should rebuild
  * it rather than re-execute a released one.
  */
object Memo {

  sealed trait Lifetime
  case object Pass extends Lifetime
  case object Standing extends Lifetime

  private final case class Key(site: String, s: SparkSession, dir: String,
                               fp: String, args: List[Any])

  private final class Slot(val life: Lifetime) {
    var value: Option[Any] = None // guarded by this
    var dead = false // guarded by this
  }

  private val slots = TrieMap.empty[Key, Slot]
  private val seen = TrieMap.empty[String, String]
  private val pins = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** The value of `build` for this key, built once per input content. */
  def apply[T](site: String, life: Lifetime, s: SparkSession, dir: String,
               args: Any*)(build: => T): T = {
    val key = Key(site, s, dir, revalidate(dir), args.toList)
    var out: Option[Any] = None
    while (out.isEmpty) {
      val slot = slots.getOrElseUpdate(key, new Slot(life))
      out = slot.synchronized {
        if (slot.dead) None // released while we waited: take a fresh slot
        else slot.value.orElse {
          val v = try build catch {
            case e: Throwable =>
              slot.dead = true
              slots.remove(key, slot)
              throw e
          }
          slot.value = Some(v)
          slot.value
        }
      }
    }
    out.get.asInstanceOf[T]
  }

  /** Register an already-persisted per-call frame (one that is not shared
    * across calls, so it has no key); released with the pass. Returns it.
    */
  def pin[T <: Dataset[_]](df: T): T = {
    pins.synchronized(pins += df)
    df
  }

  /** Fingerprint `dir` and, if its content changed since last seen, release
    * every entry built from the old content and every pinned frame.
    * Returns the current fingerprint.
    */
  private[graft] def revalidate(dir: String): String = {
    val fp = Sources.fingerprint(dir)
    if (seen.put(dir, fp).exists(_ != fp)) {
      release((k, _) => k.dir == dir && k.fp != fp)
      releasePins()
    }
    fp
  }

  /** Release the [[Pass]] entries and the pinned frames. */
  def releasePass(): Unit = {
    release((_, slot) => slot.life == Pass)
    releasePins()
  }

  /** Release every entry and pinned frame. */
  def releaseAll(): Unit = {
    release((_, _) => true)
    releasePins()
    seen.clear()
  }

  /** Built entries as (site, dir, lifetime, value), for specs. */
  private[graft] def entries: Seq[(String, String, Lifetime, Any)] =
    slots.toSeq.flatMap { case (k, slot) =>
      slot.synchronized(slot.value).map(v => (k.site, k.dir, slot.life, v))
    }

  /** The pinned frames, for specs. */
  private[graft] def pinned: Seq[Dataset[_]] = pins.synchronized(pins.toList)

  // Blocking unpersist: a release is a lifecycle boundary (end of a query
  // batch), and a non-blocking release dumps the ContextCleaner/GC churn of
  // the whole batch onto whatever runs next; the round-7 bench showed that
  // churn landing on the head of the following measurement pass and
  // inflating unrelated queries 2-4x.
  private def unpersist(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(blocking = true)
    case p: Product => p.productIterator.foreach(unpersist)
    case _ =>
  }

  private def release(which: (Key, Slot) => Boolean): Unit =
    slots.toList.filter(which.tupled).foreach { case (k, slot) =>
      slots.remove(k, slot)
      slot.synchronized {
        slot.dead = true
        slot.value.foreach(unpersist)
        slot.value = None
      }
    }

  private def releasePins(): Unit = pins.synchronized {
    pins.foreach(unpersist)
    pins.clear()
  }
}
