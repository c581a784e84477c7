package graft

import org.apache.spark.sql.functions._

/** Specs for the corpus-curation operators that guard a training run:
  * decontamination (eval-set leakage scan) and PII redaction. The per-value
  * correctness is oracle-checked; these assert the semantic invariants.
  */
class TextOpsSpec extends TestSpark {

  test("bpe training merges every adjacent site and encode matches by hand") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a micro corpus where the winning pair occurs at CONSECUTIVE sites
    // inside one word ("ababab" = three adjacent "a b" sites) — the case
    // a single-space join representation silently half-misses
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    Seq((1L, "ababab ab cd"), (2L, "ababab ab"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = SparkEntry.queries("q_bpe_train")(spark, dir).collect()
    // round 1 must merge "a b" (weight: 3 sites in ababab ×2 docs + ab ×2
    // = 8, beating "b a" at 4 and "c d" at 1)
    assert(merges.head.getString(1) === "a b")
    assert(merges.head.getLong(3) === 8L)
    // round 2 sees "ababab" as [ab ab ab]: pair "ab ab" twice per word ×2
    // docs = 4 — every adjacent site survived round 1's replace
    val r2 = merges(1)
    assert(r2.getString(1) === "ab ab" && r2.getLong(3) === 4L,
      s"adjacent merge sites lost: ${merges.mkString("; ")}")
    // encode: after 6 merges "ababab" and "ab" both collapse further;
    // spot-check doc 2 = words [ababab, ab] against the learned vocab
    val enc = SparkEntry.queries("q_bpe_encode")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enc(2L)._1 === 2L) // two words
    assert(enc(2L)._2 <= 3L,  // at most [ababab-as-one-or-two, ab]
      s"encode under-merged: ${enc(2L)}")
    graft.Memo.releasePass() // drop the micro-corpus BPE memo
  }

  test("corpus shuffle is a reproducible permutation that breaks id order") {
    val a = graft.SparkEntry.queries("q_corpus_shuffle")(spark, Sf).collect()
    val b = graft.SparkEntry.queries("q_corpus_shuffle")(spark, Sf).collect()
    // retry-determinism: the whole point of the seeded key over rand()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    val byShard = a.groupBy(_.getLong(2))
    // every shard's read positions are exactly 1..n — a true permutation
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === (1L to rows.length),
        s"shard $sh positions")
    }
    // and the read order actually de-correlates: following pos within a
    // shard must not reproduce ascending doc_id order everywhere
    assert(byShard.exists { case (_, rows) =>
      val ids = rows.sortBy(_.getLong(3)).map(_.getLong(0)).toSeq
      ids != ids.sorted
    }, "shuffle left every shard in id order")
  }

  test("boilerplate scoring flags a planted domain header, leaves unique text clean") {
    import spark.implicits._
    // spam domain: every doc opens with the same 6-token header, so its 4
    // internal shingles have df = 10 >= max(2, 0.05*10); tails use
    // per-doc-unique tokens, so every header-crossing and tail shingle has
    // df = 1 and stays unflagged — n_boiler must be EXACTLY 4
    val header = "click here to buy now friend"
    val spam = (0 until 10).map(i =>
      (i.toLong, "spam", s"$header sp${i}a sp${i}b sp${i}c sp${i}d"))
    val clean = (10 until 20).map(i =>
      (i.toLong, "clean", s"cl${i}a cl${i}b cl${i}c cl${i}d cl${i}e"))
    val scored = graft.ops.TextOps
      .boilerplateScores((spam ++ clean).toDF("doc_id", "source", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    (0 until 10).foreach { i =>
      val (nGrams, nBoiler, ratio) = scored(i.toLong)
      assert(nGrams === 8L, s"spam doc $i gram count") // 10 tokens -> 8
      assert(nBoiler === 4L, s"spam doc $i must flag the 4 header shingles")
      assert(ratio === 0.5, s"spam doc $i ratio")
    }
    (10 until 20).foreach { i =>
      assert(scored(i.toLong)._2 === 0L, s"clean doc $i must stay clean")
    }
  }

  test("NB quality scorer separates the weak-label classes it trained on") {
    val rows = SparkEntry.queries("q_quality_nb")(spark, Sf).collect()
      .map(r => (r.getBoolean(1), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val (keep, drop) = rows.partition(_._1)
    assert(keep.nonEmpty && drop.nonEmpty, "fixture lost a class")
    // the model must score its own positive class higher on average...
    val meanK = keep.map(_._2).sum / keep.length
    val meanD = drop.map(_._2).sum / drop.length
    assert(meanK > meanD,
      f"no separation: keep mean $meanK%.4f <= drop mean $meanD%.4f")
    // ...and its keep/drop decision must agree with the weak labels far
    // above chance (measured 0.92 at sf0.001 — floor leaves noise room)
    val agree = rows.count(r => r._1 == r._3).toDouble / rows.length
    assert(agree >= 0.8, f"NB agreement $agree%.3f below 0.8")
  }

  test("bigram LM penalizes scrambled word order that a unigram model cannot see") {
    import spark.implicits._
    // 9 docs share one fixed word order; doc 10 is the SAME multiset
    // shuffled. Unigram scores are identical by construction; the bigram
    // model must rank the common order higher.
    val inOrder = "the cat sat on the mat and the dog ran off"
    val scrambled = "mat the ran cat off and sat dog the on the"
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram").toString
    ((1L to 9L).map(i => (i, inOrder)) :+ (10L, scrambled))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val lp = SparkEntry.queries("q_text_bigram_lp")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lp(1L) > lp(10L),
      s"scrambled doc not penalized: in-order ${lp(1L)} vs scrambled ${lp(10L)}")
    val uni = SparkEntry.queries("q_text_unigram_lp")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) === uni(10L),
      s"unigram control broken: ${uni(1L)} vs ${uni(10L)} should be equal")
  }

  test("per-domain cap cuts a 90%-dominant domain to 10x the smallest, exactly") {
    import spark.implicits._
    // degenerate mixture: 900 docs in domA, 60 in domB, 40 in domC —
    // the single-crawl-domain-dominates shape the cap exists for
    val rows =
      (0L until 900L).map(i => (i, "domA")) ++
      (900L until 960L).map(i => (i, "domB")) ++
      (960L until 1000L).map(i => (i, "domC"))
    val d = rows.toDF("doc_id", "domain")
      .withColumn("bucket",
        ((col("doc_id") % 10000) * lit(2654435761L % 10000)) % 10000)
    val out = graft.ops.TextOps.capByDomain(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out.length === 1000)
    val keptBy = out.groupBy(_._2).view.mapValues(_.count(_._3)).toMap
    // cap = 10 × min(40) = 400: the dominant domain is cut to exactly
    // 400, the others pass whole
    assert(keptBy("domA") === 400, s"domA kept ${keptBy("domA")}")
    assert(keptBy("domB") === 60 && keptBy("domC") === 40)
    // keep SET equals the global per-domain rank rule the oracle states
    val expected = rows.groupBy(_._2).flatMap { case (dom, ds) =>
      val cap = 10 * 40
      ds.map { case (id, _) => (id, ((id % 10000) * (2654435761L % 10000)) % 10000) }
        .sortBy { case (id, b) => (b, id) }
        .zipWithIndex.map { case ((id, _), i) => (id, dom, i < cap) }
    }.toSet
    assert(out.toSet === expected)
  }

  test("per-domain cap plan: no corpus-sized per-domain window") {
    // the whole point of the counting-sort formulation: the corpus never
    // goes through a window keyed only by the ~10 domains — the only
    // windows live on the model frame and the boundary bucket
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q_corpus_cap")(spark, Sf)
        .queryExecution.executedPlan.toString
      // the only row_number (rank) window is the boundary one, and it
      // must be keyed (domain, bucket) — a row_number keyed by domain
      // alone is the corpus-sized 10-partition funnel this formulation
      // exists to avoid
      val rnSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]{0,80})".r
        .findAllMatchIn(plan).map(_.group(1)).toList
      assert(rnSpecs.nonEmpty, s"cap plan lost its boundary rank window:\n$plan")
      rnSpecs.foreach(spec => assert(
        spec.startsWith("domain#") && spec.contains("bucket#"),
        s"boundary rank window not keyed (domain, bucket): $spec\n$plan"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("boilerplate suppression shrinks the decontamination probe and its hits") {
    import org.apache.spark.sql.functions.{col, explode, sum}
    // the A/B the clean variant exists for: anti-joining the flagged
    // domain-boilerplate set out of the shingle stream must (a) shrink
    // the train-side rows feeding the probe join's exchange and (b) only
    // ever REMOVE contamination hits (both probe sides shrink)
    val d = graft.io.Sources.table(spark, Sf, "documents")
    // the INTERNED stream the production query feeds (r21) — the flagged
    // model is hashed into the same domain inside cleanShingles
    val sh = d
      .select(col("doc_id"), col("source"),
        graft.ops.TextOps.splitBucket(col("doc_id")).as("bucket"),
        explode(graft.functions.ShingleExprs.shingleHashes(col("text")))
          .as("sh"))
    val clean = graft.ops.TextOps.cleanShingles(spark, Sf, sh)
    val rawTrain = sh.filter(col("bucket") < 90).count()
    val cleanTrain = clean.filter(col("bucket") < 90).count()
    assert(cleanTrain < rawTrain,
      s"suppression dropped no probe rows ($cleanTrain vs $rawTrain) — " +
        "flagged set empty?")
    def hits(q: String): Long =
      SparkEntry.queries(q)(spark, Sf)
        .agg(sum(col("n_contaminated"))).collect()(0).getLong(0)
    val (raw, cleaned) = (hits("q_decontaminate"), hits("q_decontaminate_clean"))
    assert(cleaned <= raw,
      s"clean variant INVENTED contamination hits ($cleaned > $raw)")
    assert(SparkEntry.queries("q_decontaminate_clean")(spark, Sf).count() > 0)
  }

  test("gramChainHash lands in ShingleHashes' interned domain, gram for gram") {
    import org.apache.spark.sql.functions.{array_distinct, col, sort_array, transform}
    // the coupling the hashed boilerplate suppression depends on: the
    // Column-API chained hash of a 3-token gram STRING must equal the
    // native one-pass expression's hash of the same gram — pinned on
    // real corpus text so the two derivations can never drift
    val mismatches = graft.io.Sources.table(spark, Sf, "documents")
      .select(col("doc_id"),
        sort_array(array_distinct(transform(
          graft.ops.Dedup.rawShingles(col("text")),
          g => graft.ops.TextOps.gramChainHash(g)))).as("derived"),
        graft.functions.ShingleExprs.shingleHashes(col("text")).as("native"))
      .filter(col("derived") =!= col("native"))
      .count()
    assert(mismatches === 0L, "chained gram hash drifted from ShingleHashes")
  }

  test("corpus pipeline output lands through the packed-shard writer") {
    // the full chain: filter→dedup→split→decontaminate→pack → SHARDS ON
    // DISK — proves the composed pipeline's schema feeds the physical
    // tail without adaptation
    val out = java.nio.file.Files
      .createTempDirectory("graft_pipe_shards").toString
    val packed = SparkEntry.queries("q_corpus_pipeline")(spark, Sf)
    val n = packed.count()
    graft.io.Layout.writePackedShards(packed, out)
    val landed = spark.read.parquet(out)
    assert(landed.count() === n)
    // shard partition column survives the round-trip and stays 0..31
    val shards = landed.select("shard").distinct()
      .collect().map(_.getInt(0))
    assert(shards.forall(s => s >= 0 && s < 32))
  }

  test("bm25 scores are positive, hits bounded by the query size") {
    val r = graft.SparkEntry.queries("q_text_bm25")(spark, Sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (hits, score) = (row.getLong(1), row.getDouble(2))
      assert(hits >= 1 && hits <= 3)
      assert(score > 0.0, s"doc ${row.getLong(0)} scored $score")
    }
    // a doc hitting all 3 terms outscores the same doc hitting fewer ONLY
    // within idf bounds; the robust global invariant is the ceiling:
    // score <= sum over terms of idf * (k1+1)  (tf-saturation limit)
    val n = graft.io.Sources.table(spark, Sf, "documents").count().toDouble
    val maxIdf = math.log((n - 0.5) / 1.5 + 1.0) // df=1 term
    r.foreach(row => assert(row.getDouble(2) <= 3 * maxIdf * 2.2))
  }

  test("unigram log-prob is negative and text-content-determined") {
    val r = graft.SparkEntry.queries("q_text_unigram_lp")(spark, Sf)
      .collect()
    assert(r.length ===
      graft.io.Sources.table(spark, Sf, "documents").count())
    r.foreach(row => assert(row.getDouble(2) < 0.0))
  }

  test("corpus mix downsamples skewed domains toward the quota") {
    val r = graft.SparkEntry.queries("q_corpus_mix")(spark, Sf).collect()
    val byDomain = r.groupBy(_.getString(1))
    val counts = byDomain.map { case (d, rows) => d -> rows.length }
    val quota = counts.values.min
    // smallest domain keeps everything (thresh = 10000)
    val smallest = counts.minBy(_._2)._1
    assert(byDomain(smallest).forall(_.getBoolean(4)))
    byDomain.foreach { case (d, rows) =>
      val kept = rows.count(_.getBoolean(4))
      // hash-threshold sampling is exact in expectation with bounded
      // granularity error; at these sizes 2x quota is a loose ceiling
      assert(kept <= 2 * quota + 2, s"$d kept $kept vs quota $quota")
      assert(kept >= 1, s"$d kept nothing")
    }
  }

  test("decontamination scans exactly the test split, ratios in [0,1]") {
    val d = graft.SparkEntry.queries("q_decontaminate")(spark, Sf).collect()
    assert(d.nonEmpty)
    // every reported doc is in the test split of the hash partition
    assert(d.forall(r => (r.getLong(0) * 2654435761L) % 100 >= 95))
    d.foreach { r =>
      val (n, c, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c >= 0 && c <= n, s"doc ${r.getLong(0)}: $c of $n")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // the planted word-soup corpus shares plenty of 3-grams across splits —
    // a decontamination scan that finds nothing is broken
    assert(d.exists(_.getLong(2) > 0), "no contamination found at all")
  }

  test("n-term phrase search finds exact starts, counts overlaps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a"),   // "a b c" at 0 and 3
      (2L, "a b x b c a"),     // never the full trigram
      (3L, "c b a"),           // right tokens, wrong order
      (4L, "a a b c")          // one hit at 1
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.phraseHits(docs, Seq("a", "b", "c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 2L, 4L -> 1L))
    // single-term phrase degenerates to term frequency per doc
    val one = graft.ops.TextOps.phraseHits(docs, Seq("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one === Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
    // REPEATED terms: each occurrence fills several phrase slots and the
    // distinct-slot count must still demand all of them at one start
    val rep = graft.ops.TextOps.phraseHits(
        Seq((1L, "a b a b a"), (2L, "a b b a")).toDF("doc_id", "text"),
        Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep === Map(1L -> 2L), s"got $rep")
  }

  test("indexed phrase search equals the scan form, never touches documents") {
    val scan = graft.SparkEntry.queries("q_text_phrase")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val indexed = graft.SparkEntry.queries("q_text_phrase_indexed")(spark, Sf)
    assert(indexed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === scan)
    // the at-rest plan reads the postings artifact, not the corpus: no
    // documents scan, no tokenize — the index-reuse contract
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"indexed phrase plan rescans the corpus:\n$plan")
    assert(!plan.toLowerCase.contains("split("),
      s"indexed phrase plan re-tokenizes:\n$plan")
    // bucket partition pruning + token pushdown both reach the scan
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partition filter missing:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("tok"),
      s"token pushdown missing:\n$plan")
  }

  test("indexed bm25 equals the scan form, never touches documents") {
    val scan = graft.SparkEntry.queries("q_text_bm25")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val indexed = graft.SparkEntry.queries("q_text_bm25_indexed")(spark, Sf)
    assert(indexed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq === scan)
    // the at-rest plan reads the postings artifact + sidecars, not the
    // corpus: no documents scan, no tokenize, no corpus-wide aggregate
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"indexed bm25 plan rescans the corpus:\n$plan")
    assert(!plan.toLowerCase.contains("split("),
      s"indexed bm25 plan re-tokenizes:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partition filter missing:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("tok"),
      s"token pushdown missing:\n$plan")
  }

  test("search top-k is the k best scan-form scores, ties broken by doc_id") {
    val all = graft.SparkEntry.queries("q_text_bm25")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = all.sortBy { case (id, _, s) => (-s, id) }
      .take(graft.ops.TextOps.SearchTopK).toSeq
    val topk = graft.SparkEntry.queries("q_text_search_topk")(spark, Sf)
    assert(topk.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq === want)
    // orderBy+limit must plan the per-partition-heap operator, not a
    // global sort of every scoring doc
    assert(topk.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "top-k retrieval lost its TakeOrderedAndProject plan")
  }

  test("sharded postings bound every group, reassemble to the exact list") {
    import spark.implicits._
    val cap = graft.ops.TextOps.PostingShardDfCap
    val range = graft.ops.TextOps.PostingShardRange
    val nDocs = 600 // > cap, so the stop word MUST shard
    val corpus = (0 until nDocs).map { i =>
      (i.toLong, if (i < 10) "the rare" else "the the common")
    }.toDF("doc_id", "text")
    val rows = graft.ops.TextOps.shardedPostings(corpus)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // no group anywhere holds more than max(cap, range) entries — the
    // bound that keeps a stop word's collect_set corpus-size-independent
    rows.foreach { case (tok, shard, dfShard, _, postings) =>
      assert(dfShard <= math.max(cap, range),
        s"$tok shard $shard holds $dfShard entries")
      assert(postings.split(",").length === dfShard)
    }
    // the stop word split into ceil(600/range) doc-range shards whose
    // in-order concatenation is exactly the full sorted posting list
    val the = rows.filter(_._1 == "the").sortBy(_._2)
    assert(the.map(_._2).toSeq ===
      (0 until ((nDocs + range.toInt - 1) / range.toInt)).map(_.toLong))
    assert(the.flatMap(_._5.split(",")).map(_.toLong).toSeq ===
      (0 until nDocs).map(_.toLong),
      "shard-order concat must reassemble the global sorted list")
    // tf carries through the split: "the" appears twice in 590 docs
    assert(the.map(_._4).sum === 10L + 2L * (nDocs - 10))
    // a light token stays one unsharded group
    val rare = rows.filter(_._1 == "rare")
    assert(rare.map(_._2).toSeq === Seq(0L) &&
      rare.head._5 === (0 until 10).mkString(","))
  }

  test("token bucket router matches the artifact writer's xxhash64 bucketing") {
    import spark.implicits._
    val terms = Seq("table", "hash", "the", "zebra", "42")
    val viaSpark = terms.toDF("tok")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"tok"),
        org.apache.spark.sql.functions.lit(
          graft.ops.TextOps.PostingBuckets.toLong)).cast("int"))
      .collect().map(_.getInt(0)).toSeq
    assert(terms.map(graft.ops.TextOps.tokenBucket) === viaSpark)
  }

  test("pack shard count derives from corpus token total, pin stays 32") {
    import spark.implicits._
    val docs = graft.io.Sources.table(spark, Sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    // a tiny target forces a multi-shard derivation whose value is
    // checkable by hand: ceil(totalTokens / target)
    val total = docs.select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          graft.ops.TextOps.tokens(
            org.apache.spark.sql.functions.col("text")))
          .cast("long")))
      .collect()(0).getLong(0)
    val target = 1000L
    val derived = graft.ops.TextOps.deriveShards(docs, target)
    assert(derived === ((total + target - 1) / target).toInt)
    assert(derived > 1, s"sf corpus should derive multiple shards: $derived")
    // the derived count drives packDocs exactly like the pinned one:
    // same invariants (every doc assigned, shard ids dense-bounded)
    val packed = graft.ops.TextOps.packDocs(docs, 256L, derived).collect()
    assert(packed.length === docs.count())
    val shards = packed.map(r => r.getLong(r.fieldIndex("shard"))).distinct
    assert(shards.forall(s => s >= 0 && s < derived))
    // and a NON-default explicit count works end-to-end too
    val five = graft.ops.TextOps
      .packDocs(Seq((0L, "a b c"), (7L, "d e f g"), (12L, "h i"))
        .toDF("doc_id", "text"), 4L, 5).collect()
    assert(five.map(_.getLong(2)).toSet === Set(0L, 2L, 7L % 5))
  }

  test("sequence packing fills budgets contiguously per shard") {
    val p = graft.SparkEntry.queries("q_pack_sequences")(spark, Sf).collect()
    assert(p.length ===
      graft.io.Sources.table(spark, Sf, "documents").count())
    val byShardSeq = p.groupBy(r => (r.getLong(2), r.getLong(4)))
    byShardSeq.foreach { case ((shard, seq), docs) =>
      val toks = docs.map(_.getLong(1)).sum
      // a sequence only overflows 256 by (at most) its final document —
      // the contiguous-fill invariant; and no doc is dropped or duplicated
      val maxDoc = docs.map(_.getLong(1)).max
      assert(toks < 256 + maxDoc, s"shard $shard seq $seq packed $toks")
    }
    // seq ids are dense from 0 within each shard
    p.groupBy(_.getLong(2)).foreach { case (shard, docs) =>
      val seqs = docs.map(_.getLong(4)).distinct.sorted
      assert(seqs.head === 0L, s"shard $shard starts at seq ${seqs.head}")
    }
  }

  test("chunking covers every token, overlaps by exactly window-stride, no shuffle") {
    val chunks = graft.SparkEntry.queries("q_chunk_docs")(spark, Sf).collect()
    val docs = graft.io.Sources.table(spark, Sf, "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.groupBy(_.getLong(0)).foreach { case (docId, cs) =>
      val n = docs(docId)
      val sorted = cs.sortBy(_.getLong(1))
      // chunk ids dense from 0; starts at stride spacing
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) === i && r.getLong(2) === i * 48L)
      }
      // full coverage: last chunk reaches the final token, none overshoots
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) === n.toLong,
        s"doc $docId: coverage ends before token $n")
      assert(sorted.forall(r => r.getLong(3) > 0 && r.getLong(3) <= 64))
      // the chunk text really is the window: token count matches n_tok
      sorted.foreach { r =>
        assert(r.getString(4).split(" ").count(_.nonEmpty) === r.getLong(3))
      }
    }
    // scale shape: chunking is scan-side — no exchange except the
    // harness presentation sort
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q_chunk_docs")(spark, Sf)
        .queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.length <= 1,
        s"chunking must not shuffle the corpus:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("adaptive quality filter keeps >= half of each source, thresholds broadcast") {
    val kept = graft.SparkEntry.queries("q_quality_adaptive")(spark, Sf)
    val total = graft.io.Sources.table(spark, Sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (src, n) =>
      val k = keptBySrc.getOrElse(src, 0L)
      // >= median keeps at least half (ties can keep more, interpolated
      // medians between distinct values can keep exactly half)
      assert(k * 2 >= n, s"source $src kept $k of $n — below the median half")
      assert(k < n || n == 1,
        s"source $src kept everything — threshold did not bite")
    }
    // the per-source thresholds reach the corpus by broadcast, not SMJ
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.SparkEntry.queries("q_quality_adaptive")(spark, Sf)
        .queryExecution.executedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.isEmpty, s"thresholds must broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("redaction removes every planted email and phone") {
    val r = graft.SparkEntry.queries("q_text_redact")(spark, Sf)
    assert(r.filter(!col("clean")).count() === 0,
      "redacted text still contains PII-shaped substrings")
    // the markers really replaced the planted tokens
    val row = r.filter(col("doc_id") === 3).collect().head
    val red = row.getAs[String]("redacted")
    assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
    assert(!red.contains("@example.com") && !red.contains("555-"))
  }

  test("temperature sampling keeps min(cnt, quota) bottom-hash docs per domain") {
    val ids = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val byDom = ids.groupBy(id =>
      math.floor(math.sqrt((id % 100).toDouble)).toLong)
    val stot = byDom.values.map(v => math.sqrt(v.length.toDouble)).sum
    def quota(cnt: Int): Long =
      math.max(1L, math.floor(200.0 * math.sqrt(cnt.toDouble) / stot + 0.5).toLong)
    val got = graft.SparkEntry.queries("q_corpus_temperature")(spark, Sf)
      .collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    byDom.foreach { case (k, dom) =>
      val expect = dom
        .sortBy(id => (graft.functions.MinHash.md5HexOf(id.toString), id))
        .take(math.min(quota(dom.length), dom.length.toLong).toInt).toSet
      assert(got(s"dom$k") === expect, s"dom$k")
    }
    // α = 0.5 up-samples the tail: the smallest domain's keep-rate must
    // beat the largest domain's (that is the point of temperature < 1)
    val small = byDom.minBy(_._2.length)
    val large = byDom.maxBy(_._2.length)
    val rate = (k: Long, n: Int) => got(s"dom$k").size.toDouble / n
    assert(rate(small._1, small._2.length) > rate(large._1, large._2.length))
  }
}
