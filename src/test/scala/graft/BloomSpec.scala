package graft

import org.apache.spark.sql.functions._

import graft.ops.Bloom

/** The [[graft.ops.Bloom]] prune is only sound if it NEVER drops a key
  * present in the build set — that one-sided contract is what lets the
  * decontamination queries keep their oracle SQL unchanged. These specs
  * pin the contract, the degenerate cases, and the reason the prune
  * exists (it actually prunes).
  */
class BloomSpec extends TestSpark {
  import spark.implicits._

  test("no false negatives: every build key passes its own filter") {
    // adversarial key shapes in one pass: empty string, whitespace,
    // unicode, duplicates, very long keys, digit-only, real shingles
    val keys = Seq("", " ", "  ", "a", "a", "ü ñ €", "日本語 テスト",
      "x" * 10000, "0", "-1", "the quick brown", "quick brown fox") ++
      (0 until 2000).map(i => s"shingle $i body")
    val df = keys.toDF("k")
    val survivors = Bloom.prune(df, "k", df, "k").count()
    assert(survivors == keys.length.toLong,
      s"filter dropped ${keys.length - survivors} of its own build keys")
  }

  test("no false negatives on a disjoint probe superset (subset recovered exactly)") {
    val build = (0 until 500).map(i => s"shingle $i text").toDF("k")
    val probe = (0 until 5000).map(i => s"shingle $i text").toDF("k")
    val pruned = Bloom.prune(probe, "k", build, "k")
    // the 500 true members must all survive; the exact join after a prune
    // must therefore see every true pair
    val verified = pruned.join(build.withColumnRenamed("k", "b"),
      col("k") === col("b")).count()
    assert(verified == 500L, s"exact-join recovered $verified of 500 members")
  }

  test("the filter prunes: non-member pass rate under 5% at design load") {
    val build = (0 until 10000).map(i => s"member-$i").toDF("k")
    val probe = (0 until 50000).map(i => s"outsider-$i").toDF("k")
    val passed = Bloom.prune(probe, "k", build, "k").count()
    assert(passed < 2500L, s"fp pass-through $passed / 50000 — filter too full")
  }

  test("empty build set rejects every probe (degenerate prune is total)") {
    // the aggregate over zero rows yields a NULL filter; might_contain
    // propagates the null, and Filter drops null — prune must stay total,
    // matching the exact-join semantics (nothing can match an empty set)
    val build = Seq.empty[String].toDF("k")
    val probe = (0 until 100).map(i => s"p$i").toDF("k")
    assert(Bloom.prune(probe, "k", build, "k").count() == 0L)
  }

  test("worthPruning gates on optimizer stats like Spark's own runtime filter") {
    import spark.implicits._
    val tiny = (0 until 100).map(_.toString).toDF("k")
    // 100 strings is nowhere near the 10 GB default threshold
    assert(!Bloom.worthPruning(tiny), "tiny frame must not clear 10 GB gate")
    spark.conf.set(Bloom.ThresholdKey, "0")
    try assert(Bloom.worthPruning(tiny), "threshold 0 must always fire")
    finally spark.conf.unset(Bloom.ThresholdKey)
  }

  test("pipeline scale form ≡ lean form: forced bloom prune changes no rows") {
    // both stage-5 formulations must be row-identical — the oracle pins
    // the lean form, this pins the gated one against it
    val lean = graft.SparkEntry.queries("q_corpus_pipeline")(spark, Sf)
      .collect().map(_.toSeq).toSet
    graft.Memo.releasePass()
    spark.conf.set(Bloom.ThresholdKey, "0")
    try {
      val scale = graft.SparkEntry.queries("q_corpus_pipeline")(spark, Sf)
        .collect().map(_.toSeq).toSet
      assert(scale == lean,
        s"bloom-pruned pipeline diverged: ${(scale diff lean).take(3)} / ${(lean diff scale).take(3)}")
    } finally {
      spark.conf.unset(Bloom.ThresholdKey)
      graft.Memo.releasePass()
    }
  }

  test("probe is a map-side might_contain filter — no join, no per-row state") {
    val build = (0 until 100).map(_.toString).toDF("k")
    val probe = (0 until 100).map(_.toString).toDF("k")
    val plan = Bloom.prune(probe, "k", build, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected Spark's native bloom probe in the plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"prune must be a pure Filter, not a join:\n$plan")
  }
}
