package graft.ops

import graft.SparkSpec

/** Unit spec for the dedup family over small controlled corpora. */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup keeps the lowest doc_id per identical text") {
    val out = Dedup.exact(docs(
      (10L, "a b c"), (3L, "a b c"), (7L, "x y z")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((3L, 2L), (7L, 1L)))
  }

  test("substringSpans merges adjacent duplicated shingles into maximal spans") {
    // Docs 1 and 2 share the verbatim 7-token run "one two three four five
    // six seven" (at offsets 0 and 2 respectively); doc 3 is disjoint.
    // L=3 → duplicated shingle offsets are consecutive → ONE span each.
    val d = docs(
      (1L, "one two three four five six seven tail1 tail2"),
      (2L, "pre1 pre2 one two three four five six seven"),
      (3L, "alpha beta gamma delta epsilon zeta"))
    val out = Dedup.substringSpans(d, shingleLen = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4))).toSet
    // 7 shared tokens → 5 shingles of length 3; span covers tokens
    // [0,6] in doc 1 and [2,8] in doc 2.
    assert(out === Set((1L, 0, 6, 7, 5L), (2L, 2, 8, 7, 5L)))
  }

  test("substringSpans: within-doc repeats alone don't mark spans; gaps split") {
    // Doc 1 repeats its own trigram but no OTHER doc has it → no span.
    val solo = Dedup.substringSpans(
      docs((1L, "x y z x y z"), (2L, "totally different words here")),
      shingleLen = 3)
    assert(solo.count() === 0)
    // Two separated shared runs → two distinct spans per doc.
    val twoRuns = Dedup.substringSpans(docs(
      (1L, "a b c GAP1 GAP2 d e f"),
      (2L, "a b c OTHER1 OTHER2 d e f")), shingleLen = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(twoRuns === Set((1L, 0, 2), (1L, 5, 7), (2L, 0, 2), (2L, 5, 7)))
  }

  test("containment: full quote scores 1.0, weak overlap filtered, cap kills boilerplate") {
    // Doc 1's grams are a strict subset of doc 2's (a verbatim quote);
    // doc 3 shares only one gram with each (containment 1/3 and 1/4,
    // both under the 0.5 floor). sampleMod=1 → every shingle generates
    // candidates, so the assertion pins verification, not sampling luck.
    val d = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "intro alpha beta gamma delta outro end"),
      (3L, "alpha beta unrelated tokens here"))
    val out = Dedup.containment(d, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 2L, 3L, 1.0, 1L)))
    // Same corpus, per-shingle holder cap 1: every shared shingle is
    // over-cap boilerplate → no candidate pairs at all.
    assert(Dedup.containment(d, sampleMod = 1, maxDocsPerShingle = 1)
      .count() === 0L)
  }

  test("lineDedup drops every occurrence of corpus-duplicated lines") {
    val out = Dedup.lineDedup(docs(
      (1L, "the quick brown fox\nunique line number one\nshared boilerplate line"),
      (2L, "shared boilerplate line\nunique line number two"),
      (3L, "totally disjoint document")))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // CCNet semantics: ALL occurrences of the duplicated line vanish.
    assert(out(1L) === ((3, 1, "the quick brown fox\nunique line number one")))
    assert(out(2L) === ((2, 1, "unique line number two")))
    assert(out(3L) === ((1, 0, "totally disjoint document")))
  }

  test("lineDedup: short duplicated lines survive (minChars floor); within-doc repeats count") {
    val out = Dedup.lineDedup(docs(
      (1L, "ok\nthis long line is repeated verbatim"),
      (2L, "ok\nthis long line is repeated verbatim")))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // "ok" (2 chars < 10) is structure, kept on both; the long line goes.
    assert(out(1L) === "ok" && out(2L) === "ok")
    // A line repeated twice WITHIN one document is corpus-count 2 → dropped.
    val within = Dedup.lineDedup(docs(
      (1L, "a duplicated long line\nmiddle unique content\na duplicated long line")))
      .collect().head
    assert(within.getInt(2) === 2)
    assert(within.getString(3) === "middle unique content")
  }

  test("lineDedup: NULL text behaves as one empty kept line; guard trips loudly") {
    val nulls = Dedup.lineDedup(docs((1L, null), (2L, "plain single doc")))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(nulls(1L) === ((1, 0, "")))
    assert(nulls(2L) === ((1, 0, "plain single doc")))
    // maxDupLines guard: a dup vocabulary past the collected-array design
    // point must fail the job, not silently truncate.
    val boom = intercept[Exception] {
      Dedup.lineDedup(docs(
        (1L, "the same long line everywhere"),
        (2L, "the same long line everywhere")), maxDupLines = 0).collect()
    }
    assert(boom.getMessage != null)
  }

  test("lineDedupJoin (unbounded regime) matches lineDedup exactly") {
    val fixture = docs(
      (1L, "the quick brown fox\nshared boilerplate line\nsolo content A"),
      (2L, "shared boilerplate line\nsolo content B\nshared boilerplate line"),
      (3L, "ok\nnothing here repeats at all"),
      (4L, null))
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sortBy(_._1).toSeq
    assert(canon(Dedup.lineDedupJoin(fixture).collect()) ===
      canon(Dedup.lineDedup(fixture).collect()))
    // And the shared expectation is right: the boilerplate line vanishes
    // everywhere, including its within-doc repeat in doc 2.
    val out = canon(Dedup.lineDedupJoin(fixture).collect())
      .map(t => t._1 -> t._4).toMap
    assert(out(1L) === "the quick brown fox\nsolo content A")
    assert(out(2L) === "solo content B")
  }

  test("wrapTokenLines wraps N tokens per line, deterministic and empty-safe") {
    val toks = (1 to 23).map(i => s"w$i").mkString(" ")
    val out = Dedup.wrapTokenLines(docs((1L, toks), (2L, ""), (3L, null)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val lines = out(1L).split("\n")
    assert(lines.length === 3)
    assert(lines(0) === (1 to 10).map(i => s"w$i").mkString(" "))
    assert(lines(2) === (21 to 23).map(i => s"w$i").mkString(" "))
    assert(out(2L) === "" && out(3L) === "")
  }

  test("content-hash groups equal exact groups and produces stable sha-256") {
    val out = Dedup.contentHash(docs((1L, "same text"), (2L, "same text")))
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_copies") === 2L)
    // sha256("same text"), verifiable with any external tool
    assert(out.head.getAs[String]("content_hash") ===
      "2e68a7bba11b90d1bae1daea2dd4951779cf45d5897c62539d01f44054bcb1e0")
  }

  test("bigram shingles are order-preserving and short-doc safe") {
    import org.apache.spark.sql.functions.col
    val g = docs((1L, "one two three"), (2L, "solo"), (3L, ""))
      .select(col("doc_id"), Dedup.bigrams(col("text")).alias("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(g(1L) === Seq("one two", "two three"))
    assert(g(2L) === Seq.empty)
    assert(g(3L) === Seq.empty)
  }

  test("minhash LSH finds near-identical docs and skips unrelated ones") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " other"
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val out = Dedup.minhashCandidates(
      docs((1L, base), (2L, nearDup), (3L, unrelated)), 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((1L, 2L)))
  }

  test("identical docs have identical signatures, est_sim 1.0, jaccard 1.0") {
    val text = (1 to 30).map(i => s"t$i").mkString(" ")
    val cands = Dedup.minhashCandidates(docs((1L, text), (2L, text)), 16, 4, 0.5)
      .collect()
    assert(cands.length === 1)
    assert(cands.head.getAs[Double]("est_sim") === 1.0)
    val jac = Dedup.ngramJaccard(docs((1L, text), (2L, text)))
      .collect()
    assert(jac.length === 1)
    assert(jac.head.getAs[Double]("jaccard") === 1.0)
  }

  test("simhash: identical docs equal; token order does not matter") {
    val out = Dedup.simhash(docs(
      (1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
      (3L, "delta epsilon zeta")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(2L)) // set-based: order-invariant
    assert(out(1L) !== out(3L))
    assert(out(1L) >= 0L) // 60-bit → always non-negative
  }

  test("clusters: transitive near-dups share the min doc_id; singletons self-label") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    // 5↔7 and 7↔9 are near-dups (chain); 2 is unrelated.
    val out = Dedup.clusters(docs(
      (5L, base),
      (7L, base + " extra"),
      (9L, base + " extra more"),
      (2L, (1 to 40).map(i => s"z$i").mkString(" "))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === 5L)
    assert(out(7L) === 5L)
    assert(out(9L) === 5L) // transitively, even if 9 only bucket-matched 7
    assert(out(2L) === 2L)
  }

  test("crossCorpusCandidates: pairs only ACROSS sides, thresholded") {
    import org.apache.spark.sql.functions.col
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = docs(
      (10L, base),             // new side (id % 2 == 0)
      (11L, base + " extra"),  // ref side — near-dup of 10
      (13L, base + " more"),   // ref side — near-dup of 10
      (12L, (1 to 40).map(i => s"q$i").mkString(" ")), // new, novel
      (15L, (1 to 40).map(i => s"z$i").mkString(" "))) // ref, unrelated
    val out = Dedup.crossCorpusCandidates(
      corpus.where(col("doc_id") % 2 === 0),
      corpus.where(col("doc_id") % 2 =!= 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 10 hits both ref near-dups; the novel new doc and the unrelated ref
    // doc pair with nothing. New-new (10,12) and ref-ref (11,13) pairs
    // must NOT appear even though (11,13) are near-dups of each other.
    assert(out === Set((10L, 11L), (10L, 13L)))
  }

  test("clusters converge identically under local and reliable checkpointing") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = docs(
      (5L, base),
      (7L, base + " extra"),
      (9L, base + " extra more"),
      (2L, (1 to 40).map(i => s"z$i").mkString(" ")))
    def labels() = Dedup.clusters(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val local = labels()
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString)
    spark.conf.set(Materialize.ReliableKey, "true")
    try assert(labels() === local,
      "reliable checkpoint() must not change the CC fixed point")
    finally spark.conf.unset(Materialize.ReliableKey)
  }

  test("clustersBigStar agrees with label propagation on a chained corpus") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = docs(
      (5L, base),
      (7L, base + " extra"),
      (9L, base + " extra more"),
      (2L, (1 to 40).map(i => s"z$i").mkString(" ")),
      (11L, base),  // exact dup of 5 → same component
      (3L, ""))     // empty doc stays a singleton
    val prop = Dedup.clusters(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.clustersBigStar(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === prop)
    assert(star(9L) === 5L && star(2L) === 2L && star(3L) === 3L)
  }

  test("clustersBigStar handles an edgeless corpus (all singletons)") {
    val out = Dedup.clustersBigStar(docs(
      (1L, "a b c d e"), (2L, "v w x y z")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L))
  }

  test("lsh plan has no cartesian product") {
    val plan = Dedup.minhashCandidates(docs((1L, "a b c"), (2L, "d e f")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
    assert(!plan.contains("BroadcastNestedLoop"))
  }

  test("streaming exact dedup drops repeats within the watermark horizon") {
    import java.sql.Timestamp
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(String, Timestamp)](spark)
    val stream = input.toDF().toDF("payload", "event_time")
      .withWatermark("event_time", "10 minutes")
    val query = Dedup.streamingExact(stream, Seq("payload"))
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-sdedup").toString)
      .start()
    try {
      // Same payload twice in one batch and again in the next: one
      // survivor — the duplicate state spans micro-batches.
      input.addData(("a", ts("2026-01-01 10:00:00")),
        ("a", ts("2026-01-01 10:00:30")))
      query.processAllAvailable()
      input.addData(("a", ts("2026-01-01 10:01:00")),
        ("b", ts("2026-01-01 10:01:00")))
      query.processAllAvailable()
      val payloads = spark.table("dedup_sink").collect()
        .map(_.getString(0)).sorted
      assert(payloads === Array("a", "b"))
    } finally query.stop()
  }

  test("NULL text behaves as an empty document, not a dropped row") {
    val d = docs((1L, null), (2L, "a b c d"))
    val grams = Dedup.shingleSets(d).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(grams(1L) === Seq.empty) // [] like the oracle, not NULL
    val sh = Dedup.simhash(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sh(1L) === 0L) // empty-doc signature, row preserved
  }

  test("hot-bucket skew guard bounds candidates on a degenerate corpus") {
    // 300 IDENTICAL docs: every band's bucket holds all 300, the worst
    // case for a banded self-join — unguarded it yields C(300,2) = 44 850
    // pairs from ONE bucket. With cap 25 the bucket splits into ~12
    // salted sub-buckets of ~25 docs, bounding pairs near 12·C(25,2).
    val flood = docs((1L to 300L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog")): _*)
    val mh = Dedup.minhashCandidates(flood, bucketCap = 25).count()
    assert(mh > 0L) // still finds near-dups inside each sub-bucket
    assert(mh < 15000L, s"minhash pair count $mh not bounded by the cap")
    val sp = Dedup.simhashNearDup(flood, bucketCap = 25).count()
    assert(sp > 0L)
    assert(sp < 15000L, s"simhash pair count $sp not bounded by the cap")
    // Under-cap corpora are untouched: the guard's salt is 0 everywhere,
    // so the default-cap result equals an effectively-unbounded cap.
    val small = docs((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
    val withDefault = Dedup.minhashCandidates(small)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withHugeCap = Dedup.minhashCandidates(small, bucketCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withDefault === withHugeCap)
    assert(withDefault === Set((1L, 2L)))
  }

  test("oracle fixtures never reach the hot-bucket cap (salt-free parity holds)") {
    // The DuckDB oracle SQL has NO salt step: parity with the Spark side is
    // only guaranteed while every (band, bucket) population in the fixture
    // stays under DefaultBucketCap (salt stays 0 → identical pair sets). If
    // a future fixture regeneration crosses the cap, this test fails with a
    // clear message instead of the parity harness failing mysteriously.
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val path = s"/root/testdata/$sf/documents.parquet"
      assume(new java.io.File(path).exists())
      val d = spark.read.parquet(path)
      val mhMax = Dedup.minhashSignatures(d, 16)
        .select(explode(Dedup.lshBuckets(col("sig"), 4, 4)).alias("bk"))
        .groupBy(col("bk")).count().agg(max("count")).head().getLong(0)
      assert(mhMax < Dedup.DefaultBucketCap,
        s"$sf minhash hot bucket $mhMax ≥ cap ${Dedup.DefaultBucketCap}: " +
          "the salt-free oracle SQL no longer matches the salted Spark " +
          "plan — shrink the fixture or re-derive the oracle with the salt")
      val shMax = Dedup.shingleSets(d)
        .select(col("doc_id"),
          graft.functions.SimhashVote.simhashVote(
            Dedup.hashArray60(col("grams")), 60).alias("simhash"))
        .select(explode(array((0 until 4).map(b =>
          struct(lit(b).alias("band"),
            shiftright(col("simhash"), b * 15).bitwiseAND((1L << 15) - 1)
              .alias("bv"))): _*)).alias("bk"))
        .groupBy(col("bk")).count().agg(max("count")).head().getLong(0)
      assert(shMax < Dedup.DefaultBucketCap,
        s"$sf simhash hot band-bucket $shMax ≥ cap ${Dedup.DefaultBucketCap}")
    }
  }

  test("incrementalExact: verbatim re-ingest flags, edits and novelties don't") {
    import spark.implicits._
    val ref = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha beta gamma")) // 1 and 3 identical → keeper = min id
      .toDF("doc_id", "text")
    val snap = Seq(
      (101L, "alpha beta gamma"), // exact dup of ref 1/3 → ref_id 1
      (102L, "delta epsilon zeta"), // near-miss edit → novel
      (103L, "entirely new content")) // novel
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(snap, ref).collect()
      .map(r => r.getAs[Long]("new_id") -> r).toMap
    assert(out.size === 3)
    assert(out(101L).getAs[Boolean]("is_dup"))
    assert(out(101L).getAs[Long]("ref_id") === 1L)
    assert(!out(102L).getAs[Boolean]("is_dup"))
    assert(out(102L).isNullAt(out(102L).fieldIndex("ref_id")))
    assert(!out(103L).getAs[Boolean]("is_dup"))
  }

  test("setSimJoin equals brute-force exact Jaccard — completeness on a " +
    "corpus where prefixes barely overlap") {
    // 24 docs: 8 shared-core near-dup variants + 8 chained overlaps +
    // 8 unrelated. Brute force is the spec; the prefix-filtered join must
    // reproduce it EXACTLY (the completeness lemma, not LSH luck).
    val corpus = (0 until 8).map { i =>
      (i.toLong, (1 to 20).map(j => s"c$j").mkString(" ") + s" v$i x$i")
    } ++ (0 until 8).map { i =>
      (100L + i, (i until i + 12).map(j => s"w$j").mkString(" "))
    } ++ (0 until 8).map { i =>
      (200L + i, (1 to 15).map(j => s"u${i}_$j").mkString(" "))
    }
    def gramsOf(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      t.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    }
    val expected = (for {
      (a, ta) <- corpus; (b, tb) <- corpus if a < b
      ga = gramsOf(ta); gb = gramsOf(tb) if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      jac = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= Dedup.SetSimThreshold
    } yield (a, b, jac)).toSet
    assert(expected.nonEmpty && expected.size < corpus.size * corpus.size / 4,
      s"fixture should be selective, got ${expected.size} pairs")
    val out = Dedup.setSimJoin(docs(corpus: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard"))).toSet
    assert(out === expected)
  }

  test("setSimJoin: sub-threshold and empty docs excluded") {
    val a = (1 to 10).map(j => s"a$j").mkString(" ")
    val b = (1 to 5).map(j => s"a$j").mkString(" ") +
      " " + (1 to 20).map(j => s"b$j").mkString(" ")
    val out = Dedup.setSimJoin(docs(
      (1L, a), (2L, b), (3L, ""), (4L, null.asInstanceOf[String])))
      .collect()
    assert(out.isEmpty) // shared 5-word run → 2 of 29 shingles < 0.5
  }

  test("setSimJoinCross equals brute force across two corpora; no " +
    "within-side pairs") {
    val leftDocs = (0 until 10).map { i =>
      (i.toLong, (1 to 18).map(j => s"c$j").mkString(" ") + s" lv$i")
    }
    val rightDocs = (0 until 6).map { i =>
      (500L + i,
        if (i < 3) (1 to 18).map(j => s"c$j").mkString(" ") + s" rv$i"
        else (1 to 15).map(j => s"z${i}_$j").mkString(" "))
    }
    def gramsOf(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      t.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
    }
    val expected = (for {
      (a, ta) <- leftDocs; (b, tb) <- rightDocs
      ga = gramsOf(ta); gb = gramsOf(tb) if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      jac = BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jac >= Dedup.SetSimThreshold
    } yield (a, b, jac)).toSet
    assert(expected.nonEmpty)
    val out = Dedup.setSimJoinCross(
      docs(leftDocs: _*), docs(rightDocs: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("jaccard"))).toSet
    assert(out === expected)
  }

  test("pagerankKeepers: clique ranks tie to the min id; singletons keep " +
    "themselves (hub-beats-leaf centrality is pinned in the " +
    "pagerankFromPairs star test)") {
    val same = (1 to 24).map(i => s"c$i").mkString(" ")
    val corpus = docs(
      (1L, same), (2L, same), (3L, same), (4L, same),
      (9L, (1 to 20).map(i => s"solo$i").mkString(" ")))
    val out = Dedup.pagerankKeepers(corpus)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Long]("keeper_id"),
          r.getAs[Boolean]("keep"))).toMap
    assert(out.size === 5)
    // Identical docs → complete verified clique → equal ranks → the
    // doc_id tie-break elects 1; everyone agrees on cluster and keeper.
    assert(Set(2L, 3L, 4L).forall(d => out(d)._1 === out(1L)._1))
    assert(Set(1L, 2L, 3L, 4L).forall(d => out(d)._2 === 1L))
    assert(out(1L)._3 && !out(2L)._3)
    // The singleton is its own cluster and keeper, rank NULL.
    assert(out(9L) === ((9L, 9L, true)))
  }

  test("pagerankFromPairs matches a driver-side integer reference over " +
    "10 rounds (star + triangle + chain)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), // star at 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L), (21L, 22L)) // chain
    def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      var r = adj.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val contrib = adj.keys.map { v => v -> r(v) / deg(v) }.toMap
        r = adj.keys.map { v =>
          v -> (150000L + 85L * adj(v).map(contrib).sum / 100L)
        }.toMap
      }
      r
    }
    val expected = reference(pairs, Dedup.PagerankIters)
    val out = Dedup.pagerankFromPairs(pairs.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("rank_micro")).toMap
    assert(out === expected)
    // The hub out-ranks its leaves — the keeper-selection signal.
    assert(out(1L) > out(2L))
  }
}
