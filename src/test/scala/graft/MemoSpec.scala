package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

/** [[Memo]]: input-keyed entries, once-only builds, and the guard that
  * keeps it the engine's only module memo.
  */
class MemoSpec extends TestSpark {

  private def rows(key: String, dir: String): Seq[Seq[Any]] =
    SparkEntry.queries(key)(spark, dir).collect().map(_.toSeq).toSeq

  test("a corpus dir rewritten inside one session is read fresh, no release call") {
    val root = Files.createTempDirectory("graft_memo_").toString
    val docs = io.Sources.table(spark, Sf, "documents")
    // swapped in by file moves, as another process rewrites a dir: a
    // Spark overwrite from this session would also recache every cached
    // plan that reads the path, which hides a stale cached read
    def land(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val staging = Files.createTempDirectory(Paths.get(root), "staging")
      df.write.parquet(s"$staging/t")
      val target = Paths.get(dir, "documents.parquet")
      if (Files.exists(target))
        Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.delete(p))
      Files.createDirectories(target.getParent)
      Files.move(staging.resolve("t"), target)
    }
    val keys = Seq("q_dedup_exact", "q_corpus_pipeline")
    val dir = s"$root/live"
    land(dir, docs)
    val first = keys.map(rows(_, dir))
    // the rewrite keeps two thirds of the corpus, so every result changes
    val kept = docs.filter(col("doc_id") % 3 =!= 0)
    land(dir, kept)
    land(s"$root/fresh", kept)
    keys.zip(first).foreach { case (k, old) =>
      // compared as booleans: a failure must not print whole results
      val got = rows(k, dir)
      val changed = got != old
      val fresh = got == rows(k, s"$root/fresh")
      assert(changed, s"$k did not change with its input")
      assert(fresh, s"$k served a stale memo")
    }
  }

  test("each key builds once under concurrent callers; a failed build leaves no entry") {
    val dir = Files.createTempDirectory("graft_memo_").toString
    val builds = new AtomicInteger
    val got = Await.result(Future.sequence((1 to 8).map(_ => Future(
      Memo("spec.once", Memo.Pass, spark, dir) {
        builds.incrementAndGet()
        Thread.sleep(100)
        "v"
      }))), 1.minute)
    assert(got.forall(_ == "v"))
    assert(builds.get === 1)
    // a build may call another memo
    assert(Memo("spec.outer", Memo.Pass, spark, dir)(
      Memo("spec.inner", Memo.Pass, spark, dir)(1) + 1) === 2)
    intercept[IllegalStateException] {
      Memo[String]("spec.fail", Memo.Pass, spark, dir)(
        throw new IllegalStateException("build failed"))
    }
    assert(!Memo.entries.exists(_._1 == "spec.fail"))
    assert(Memo("spec.fail", Memo.Pass, spark, dir)("ok") === "ok")
    // extra args are part of the key
    assert(Memo("spec.args", Memo.Pass, spark, dir, 1)("one") === "one")
    assert(Memo("spec.args", Memo.Pass, spark, dir, 2)("two") === "two")
    Memo.releasePass()
    assert(!Memo.entries.exists(_._1.startsWith("spec.")))
  }

  test("Memo is the only module memo in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    // ManifestFileIndex's per-instance `listed` listing cache is not a
    // module memo: it lives and dies with one file index
    val allowed = Set("Memo.scala", "ManifestFileIndex.scala")
    val offenders = files(root).flatMap { f =>
      val src = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val banned =
        Seq("graft.Caches", "Caches.register", "Caches.releaseAll") ++
          (if (allowed(f.getName)) Nil else Seq("TrieMap"))
      banned.filter(w => src.contains(w)).map(w => s"${f.getPath}: $w")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
