package graft.ops

import graft.SparkSpec

/** Spec for the corpus-curation composite (gate ∧ keeper + annotations). */
class CurationSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  // Both pass the quality gate: ≥64 chars, ≥10 tokens, few stopwords,
  // no punctuation, short words.
  private val good1 = "the quick brown fox jumps over the lazy dog while " +
    "autumn winds carry fallen leaves across quiet village streets"
  private val good2 = "a storm gathered beyond the ridge and the hikers " +
    "walked slowly toward shelter under heavy gray skies that evening"

  test("keepers keep the min doc_id per near-dup cluster and all singletons") {
    val out = Curation.keepers(docs(
      (1L, good1), (2L, good1), (3L, good2), (4L, "short")))
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 3L, 4L)) // 2 is the dup of 1; 4 keeps itself
  }

  test("sampleByLanguage: deterministic, nested across rates, rate-exact at 0 and 1") {
    val corpus = docs((1L to 200L).map(i => (i, good1)): _*) // all 'en'
    def ids(rates: Map[String, Double], dflt: Double = 0.0): Set[Long] =
      Curation.sampleByLanguage(corpus, rates, dflt)
        .collect().map(_.getLong(0)).toSet
    assert(ids(Map("en" -> 1.0)) === (1L to 200L).toSet) // rate 1 keeps all
    assert(ids(Map("en" -> 0.0)) === Set.empty)          // rate 0 drops all
    val half = ids(Map("en" -> 0.5))
    assert(half === ids(Map("en" -> 0.5)))               // no RNG: stable
    assert(half.subsetOf(ids(Map("en" -> 0.8))))         // samples nest
    // Hash buckets are near-uniform: 0.5 keeps roughly half.
    assert(half.size > 60 && half.size < 140, s"got ${half.size}/200")
  }

  test("packSequences chops the running token stream at the budget") {
    // One bucket → one deterministic stream ordered by doc_id; 4-token
    // docs against a 10-token budget: starts at 0,4,8,12,16 → packs
    // 0,0,0,1,1.
    val corpus = docs((1L to 5L).map(i => (i, "a b c d")): _*)
    val out = Curation.packSequences(corpus, budget = 10, buckets = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(out === Map(
      1L -> ((0, 0, 4)), 2L -> ((0, 0, 4)), 3L -> ((0, 0, 4)),
      4L -> ((0, 1, 4)), 5L -> ((0, 1, 4))))
  }

  test("contamination flags docs sharing rare n-grams with the benchmark") {
    import org.apache.spark.sql.functions.col
    val bench = "zebra quantum falcon orbits the crimson nebula " +
      "beyond andromeda tonight"
    val leaked = bench + " exactly" // shares all 9 benchmark bigrams
    val out = Curation.contamination(
      docs((100L, bench), (1L, leaked), (2L, good2)),
      col("doc_id") % 100 === 0, minShared = 3, dfCap = 10)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 100L))) // only the leak is flagged; good2 is clean
    assert(out.head.getInt(2) === 9)
  }

  test("contamination: empty benchmark or no rare overlap yields no rows") {
    import org.apache.spark.sql.functions.col
    // No doc id divisible by 100 → benchmark side is empty.
    val noBench = Curation.contamination(
      docs((1L, good1), (2L, good2)), col("doc_id") % 100 === 0)
    assert(noBench.count() === 0)
    // Benchmark exists but shares no grams with the corpus side.
    val disjoint = Curation.contamination(
      docs((100L, good1), (1L, good2)), col("doc_id") % 100 === 0)
    assert(disjoint.count() === 0)
  }

  test("curate = gate-passing cluster keepers with language and tokens") {
    val rows = Curation.curate(docs(
      (1L, good1), (2L, good1), (3L, good2), (4L, "short")))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("predicted_lang"), r.getAs[Int]("ws_tokens")))
    assert(rows.map(_._1).toSet === Set(1L, 3L)) // 2 = dup, 4 = too_short
    assert(rows.forall(_._2 == "en"))
    assert(rows.forall(_._3 >= 10))
  }

  test("assignSplits: total, deterministic, stable under fraction growth") {
    val corpus = docs((1L to 400L).map(i => (i, good1)): _*)
    def splits(fr: Seq[(String, Double)]): Map[Long, String] =
      Curation.assignSplits(corpus, fr).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(a.size === 400) // every doc labeled, exactly once
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(a === splits(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    // Growing train only converts val/test docs near the boundary — no
    // train doc ever leaves train (monotone boundaries).
    val b = splits(Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    assert(a.collect { case (id, "train") => id }.toSet
      .subsetOf(b.collect { case (id, "train") => id }.toSet))
    // Remainder falls in the LAST split: fractions summing under 1 still
    // label everything.
    val c = splits(Seq("train" -> 0.5, "rest" -> 0.1))
    assert(c.size === 400 && c.values.toSet === Set("train", "rest"))
    assertThrows[IllegalArgumentException] {
      Curation.assignSplits(corpus, Seq("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("lengthBuckets: binary-digit buckets, exact waste, empty docs in " +
    "bucket 1") {
    val corpus = docs(
      (1L, (1 to 3).map(i => s"a$i").mkString(" ")),   // 3 toks → bucket 2
      (2L, (1 to 4).map(i => s"b$i").mkString(" ")),   // 4 → bucket 3 (100)
      (3L, (1 to 7).map(i => s"c$i").mkString(" ")),   // 7 → bucket 3 (111)
      (4L, ""),                                         // 0 → clamps to bucket 1
      (5L, (1 to 8).map(i => s"d$i").mkString(" ")))   // 8 → bucket 4
    val out = Curation.lengthBuckets(corpus).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out(2) === ((1L, 3, 3, 3L, 0L, 1.0)))
    // Bucket 3 holds 4 and 7 tokens: waste = 7*2 - 11 = 3, eff = 11/14.
    assert(out(3) === ((2L, 4, 7, 11L, 3L, 0.785714)))
    assert(out(1) === ((1L, 0, 0, 0L, 0L, 0.0)))
    assert(out(4) === ((1L, 8, 8, 8L, 0L, 1.0)))
  }

  test("splitClusterSafe: near-dup clusters never straddle splits; " +
    "singletons match assignSplits") {
    // 60 near-dup pairs (i, i+1000 sharing text) + 80 singletons; each
    // pair's vocabulary is disjoint from every other pair's, so clusters
    // stay size-2 and there are enough that a per-doc split WOULD
    // straddle some pair.
    val pairDocs = (1L to 60L).flatMap { i =>
      val t = (1 to 15).map(j => s"w${i}x$j").mkString(" ")
      Seq((i, t), (i + 1000L, t))
    }
    val soloDocs = (2001L to 2080L).map(i =>
      (i, (1 to 15).map(j => s"s${i}y$j").mkString(" ")))
    val corpus = docs(pairDocs ++ soloDocs: _*)
    val out = Curation.splitClusterSafe(corpus)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(out.size === 200)
    // Every near-dup pair: same cluster, same split — leakage impossible.
    (1L to 60L).foreach { i =>
      assert(out(i) === out(i + 1000L), s"pair $i straddles splits")
      assert(out(i)._1 === i) // min-id cluster label
    }
    // The doc-id split WOULD have straddled at least one pair (the
    // property this operator exists to remove).
    val byDoc = Curation.assignSplits(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 60L).exists(i => byDoc(i) != byDoc(i + 1000L)))
    // Singletons hash their own id: identical to assignSplits.
    (2001L to 2080L).foreach { i =>
      assert(out(i) === ((i, byDoc(i))))
    }
    // All three splits are populated across the 140 clusters.
    assert(out.values.map(_._2).toSet === Set("train", "val", "test"))
  }

  test("shuffleShards: a permutation — contiguous positions, deterministic") {
    val corpus = docs((1L to 300L).map(i => (i, good1)): _*)
    val out = Curation.shuffleShards(corpus, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length === 300)
    assert(out.map(_._1).toSet === (1L to 300L).toSet)
    // Positions are 1..n within every shard, no gaps or ties.
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted === (1 to rows.length).toArray)
    }
    // Deterministic across runs, and the order is NOT the doc_id order
    // (it is a shuffle) — shard 0's first doc is almost surely not the
    // globally smallest id in the shard... assert the weaker, exact
    // property: re-running yields identical (doc_id, shard, pos).
    val again = Curation.shuffleShards(corpus, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.sorted === again.sorted)
    val byIdOrder = out.filter(_._2 == out.head._2).sortBy(_._3).map(_._1)
    assert(byIdOrder !== byIdOrder.sorted) // genuinely permuted
  }

  test("mixEpochs realizes the token target within one document's tokens") {
    val corpus = docs((1L to 50L).map(i => (i, good1)): _*) // all 'en'
    val perDoc = 19L // good1 is 19 ws tokens
    val total = 50 * perDoc
    val target = (total * 2.5).toLong // 2 whole epochs + half
    val out = Curation.mixEpochs(corpus, Map("en" -> target)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_epochs"))).toMap
    assert(out.size === 50)
    assert(out.values.forall(e => e == 2 || e == 3)) // whole ± the draw
    val mixTokens = out.values.map(_ * perDoc).sum
    // The fractional draw hits the target to within one stratum document.
    assert(math.abs(mixTokens - target) <= perDoc * 50 / 10) // hash jitter
    // No target → 0 epochs, rows kept for the report.
    val none = Curation.mixEpochs(corpus, Map.empty).collect()
    assert(none.length === 50)
    assert(none.forall(_.getAs[Int]("n_epochs") === 0))
  }

  test("chunkDocuments: overlapping windows, clamped tail, empty docs dropped") {
    val d = docs(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),
      (3L, ""))
    // chunkSize 4, stride 3 → starts 0,3,6,9: windows of 4,4,4 and tail 1.
    val out = Curation.chunkDocuments(d, chunkSize = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    assert(out((1L, 0)) === ((4, "w1 w2 w3 w4")))
    assert(out((1L, 1)) === ((4, "w4 w5 w6 w7"))) // overlap of 1 token
    assert(out((1L, 3)) === ((1, "w10")))         // clamped tail window
    assert(out((2L, 0)) === ((2, "a b")))
    assert(!out.keySet.exists(_._1 == 3L))        // empty doc: no chunks
  }

  test("bloom-prefiltered contamination equals the exact operator") {
    val bench = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10"
    val leaked = "intro words then zq1 zq2 zq3 zq4 zq5 zq6 closing words"
    val clean = "totally unrelated text with distinct vocabulary here now"
    val corpus = docs((10L, bench), (1L, leaked), (2L, clean),
      (3L, clean + " more"), (4L, "other unrelated content entirely"))
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column,
        Int, Int) => org.apache.spark.sql.DataFrame) =
      f(corpus, org.apache.spark.sql.functions.col("doc_id") % 10 === 0, 3, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = run(Curation.contamination(_, _, _, _))
    val bloom = run(Curation.contaminationBloom(_, _, _, _))
    assert(bloom === exact)
    assert(exact.map(t => (t._1, t._2)) === Set((1L, 10L)))
  }

  test("sampleGrouped: exactly k per stratum, nested in k, partition-invariant") {
    import spark.implicits._
    val corpus = (1L to 100L)
      .map(i => (i, if (i % 2 == 0) "en" else "fr", s"src${i % 3}", i * 10))
      .toDF("doc_id", "lang", "source", "n_chars")
    def draw(k: Int, parts: Int = 4): Map[String, Seq[Long]] =
      Curation.sampleGrouped(corpus.repartition(parts), k = k)
        .collect().groupBy(_.getString(0))
        .view.mapValues(_.map(_.getLong(2)).toSeq.sorted).toMap
    val k10 = draw(10)
    assert(k10("en").size === 10 && k10("fr").size === 10)
    // Nesting: the k=5 draw is a subset of the k=10 draw per stratum.
    val k5 = draw(5)
    assert(k5("en").toSet.subsetOf(k10("en").toSet))
    assert(k5("fr").toSet.subsetOf(k10("fr").toSet))
    // Determinism: the draw is a pure function of (seed, doc_id).
    assert(draw(10, 1) === k10)
    // A stratum smaller than k returns whole, ranks stay 1..n.
    val tiny = Seq((1L, "zh", "s", 5L), (2L, "zh", "s", 6L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val ranks = Curation.sampleGrouped(tiny, k = 20)
      .collect().map(_.getInt(1)).sorted
    assert(ranks === Array(1, 2))
  }

  test("sampleWeighted: k docs, weight-biased, deterministic, zero-weight excluded") {
    import spark.implicits._
    // 100 light docs (weight 1) vs 10 heavy docs (weight 1000): an
    // unweighted draw would pick ~1 heavy doc in 10; A-ES should fill
    // most of the sample from the heavy decile. Deterministic hash → a
    // fixed, assertable outcome.
    val corpus = ((1L to 100L).map(i => (i, 1L)) ++
      (101L to 110L).map(i => (i, 1000L)) ++ Seq((111L, 0L)))
      .toDF("doc_id", "n_chars")
    val out = Curation.sampleWeighted(corpus, k = 10)
      .collect().map(_.getLong(0))
    assert(out.length === 10)
    assert(!out.contains(111L), "zero-weight doc must never be drawn")
    val heavy = out.count(_ > 100L)
    assert(heavy >= 7, s"weighted draw must favor heavy docs, got $heavy/10")
    // Deterministic under any partitioning.
    val again = Curation.sampleWeighted(corpus.repartition(7), k = 10)
      .collect().map(_.getLong(0))
    assert(again.sorted === out.sorted)
  }

  test("sampleGroupedWeighted: k per stratum, deterministic, WindowGroupLimit plan") {
    import spark.implicits._
    val corpus = (1L to 40L).map { i =>
      (i, if (i % 2 == 0) "en" else "fr", i * 10L)
    }.toDF("doc_id", "lang", "n_chars")
    val out = Curation.sampleGroupedWeighted(corpus, k = 5).collect()
    val byLang = out.groupBy(_.getString(0))
    assert(byLang.keySet === Set("en", "fr"))
    assert(byLang.values.forall(_.length === 5))
    // Ranks are 1..5 within each stratum.
    for ((_, rows) <- byLang)
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 5))
    // Partition-invariant (seeded hash key, not partition order).
    val again = Curation.sampleGroupedWeighted(corpus.repartition(7), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(2))).sorted.toSeq
    assert(again === out.map(r => (r.getString(0), r.getLong(2))).sorted.toSeq)
    // The rank cutoff runs as a per-stratum group limit before the shuffle.
    val plan = Curation.sampleGroupedWeighted(corpus, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must run as a running per-stratum top-k:\n$plan")
  }

  test("corpusStats: exact one-row dashboard, null-safe") {
    val out = Curation.corpusStats(docs(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, ""),
      (4L, null))).collect().head
    assert(out.getLong(0) === 4L)                 // n_docs
    assert(out.getLong(1) === 2L)                 // empty + null
    assert(out.getLong(2) === (16L + 10L))        // chars
    assert(out.getLong(3) === 5L)                 // tokens
    assert(out.getLong(4) === 3L)                 // alpha, beta, gamma
    assert(out.getDouble(5) === 1.25)             // 5 / 4
  }

  test("tokenDrift: honest split reads near zero, shifted val distribution alarms") {
    import spark.implicits._
    val ids = (1L to 400L)
    // Which ids land in val is decided by the split hash — fetch it first
    // so the drifted fixture can write DIFFERENT text into the val slice.
    val splitOf = Curation.assignSplits(ids.map(i => (i, "x")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitOf.values.toSet.contains("val"), "fixture must hit the val slice")
    val honest = ids.map(i => (i, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val drifted = ids.map { i =>
      (i, if (splitOf(i) == "val") "zz yy xx ww vv"
          else "alpha beta gamma delta epsilon")
    }.toDF("doc_id", "text")
    val h = Curation.tokenDrift(honest).collect().head
    val d = Curation.tokenDrift(drifted).collect().head
    val hKl = h.getDouble(3); val dKl = d.getDouble(3)
    // Identical per-bucket shares → divergence is smoothing noise only.
    assert(math.abs(hKl) < 0.001, s"honest split drifted: $h")
    assert(math.abs(h.getDouble(4)) < 0.001)
    // Disjoint val vocabulary → loud positive divergence, KL and JS.
    assert(dKl > 0.01, s"shifted val must alarm: $d")
    assert(d.getDouble(4) > 0.001)
    assert(dKl > hKl)
    // Totals are the slice token counts (5 tokens per doc).
    assert(h.getLong(1) + h.getLong(2) ===
      5L * ids.count(i => splitOf(i) != "test"))
  }

  test("lengthHistogram: exact power-of-two bins, empty docs in bucket 0") {
    // Token counts: 1, 2, 3, 7, 8, 0 → buckets 1, 2, 2, 3, 4, 0.
    val out = Curation.lengthHistogram(docs(
      (1L, "one"),
      (2L, "one two"),
      (3L, "one two three"),
      (4L, "a b c d e f g"),
      (5L, "a b c d e f g h"),
      (6L, null)))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0) === ((0L, 0L, 1L, 0L)))
    assert(out(1) === ((1L, 1L, 1L, 1L)))
    assert(out(2) === ((2L, 3L, 2L, 5L)))   // counts 2 and 3
    assert(out(3) === ((4L, 7L, 1L, 7L)))
    assert(out(4) === ((8L, 15L, 1L, 8L)))
  }

  test("corpusReport: one row composing dashboard, drift verdict, and " +
      "length summaries consistently with the standalone parts") {
    import spark.implicits._
    val corpus = (1L to 200L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val r = Curation.corpusReport(corpus).collect()
    assert(r.length === 1)
    val row = r.head
    val stats = Curation.corpusStats(corpus).collect().head
    assert(row.getAs[Long]("n_docs") === stats.getAs[Long]("n_docs"))
    assert(row.getAs[Long]("total_tokens") === stats.getAs[Long]("total_tokens"))
    // Identical docs in every split → an honest split: drift_ok holds.
    assert(row.getAs[Boolean]("drift_ok"), s"honest split must not alarm: $row")
    assert(row.getAs[Double]("js") ===
      Curation.tokenDrift(corpus).collect().head.getAs[Double]("js"))
    // 8 BPE-ish tokens per doc → every doc in bucket 4; none ≥ 1024.
    assert(row.getAs[Int]("modal_bucket") === 4)
    assert(row.getAs[Double]("long_doc_token_share") === 0.0)
  }

  test("contaminationNearDup flags near-duplicates of benchmark docs, not unrelated text") {
    // Corpus doc 1 is a one-word edit of benchmark doc 100 (high MinHash
    // overlap, almost no shared RARE grams — the case the exact screen
    // misses); doc 2 is unrelated.
    val bench = docs((100L,
      "what is the capital of france and when was its cathedral built"))
    val corpus = docs(
      (1L, "what is the capital of france and when was its cathedral begun"),
      (2L, "completely unrelated text about spark physical plans and shuffles"))
    val out = Curation.contaminationNearDup(corpus, bench, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(out(1L) === ((true, 1L)), s"edited benchmark doc must flag: $out")
    assert(out(2L) === ((false, 0L)))
  }

  test("dsirWeights: target-like vocabulary scores above gate-failing vocabulary") {
    // Gate-passing docs establish the TARGET distribution over good1/good2
    // vocabulary; short gibberish docs fail the gate, so their words exist
    // only in the RAW distribution. A doc written in target vocabulary
    // must out-score one written in raw-only vocabulary.
    val corpus = docs(
      (1L, good1), (2L, good2), (3L, good1), (4L, good2),
      (5L, "zz yy xx qq"), (6L, "zz yy xx qq"),
      (7L, "the quick brown fox walked toward quiet village streets"),
      (8L, "zz yy xx"),
      (9L, null))
    val out = Curation.dsirWeights(corpus).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]), r.getInt(1)))).toMap
    assert(out(7L)._1.get > out(8L)._1.get,
      s"target-like ${out(7L)._1} must beat raw-only ${out(8L)._1}")
    // Gate-passing docs themselves sit at the top of the ratio scale.
    assert(out(1L)._1.get > out(5L)._1.get)
    // Empty/null docs keep their row: null ratio, 0 tokens.
    assert(out(9L) === ((None, 0)))
    assert(out(8L)._2 === 3)
  }

  test("dsirHistogram memo: weights + selection over one corpus build the histogram once") {
    Curation.clearDsirMemo()
    val corpus = docs(
      (1L, good1), (2L, good2), (3L, "zz yy xx qq"), (4L, "zz yy xx"))
    val before = Curation.dsirHistExecutions.get()
    Curation.dsirWeights(corpus).collect()
    Curation.selectByDsir(corpus, k = 2).collect()
    // Composing query pays the corpus histogram scan zero extra times —
    // the train-once contract (same posture as QualityModel.train).
    assert(Curation.dsirHistExecutions.get() === before + 1)
    // A DIFFERENT corpus is a different canonicalized plan → fresh build.
    Curation.dsirWeights(docs((9L, "totally new corpus"))).collect()
    assert(Curation.dsirHistExecutions.get() === before + 2)
  }

  test("selectByDsir: deterministic top-k, most target-like first") {
    val corpus = docs(
      (1L, good1), (2L, good2), (3L, "zz yy xx qq"), (4L, "zz yy xx"),
      (5L, good1))
    val out = Curation.selectByDsir(corpus, k = 3).collect()
    assert(out.length === 3)
    // The three target-vocabulary docs win; ratios are non-increasing.
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 5L))
    val ratios = out.map(_.getDouble(2))
    assert(ratios.zip(ratios.tail).forall { case (a, b) => a >= b })
    // Partition-invariant (TakeOrdered, not a partition-local heuristic).
    val again = Curation.selectByDsir(corpus.repartition(5), k = 3).collect()
    assert(again.map(_.getLong(0)).toSeq === out.map(_.getLong(0)).toSeq)
  }

  test("splitLeakage: identical corpus leaks fully, unique corpus not at all") {
    import spark.implicits._
    val shared = "one two three four five six seven eight nine ten"
    // 40 identical docs: every val doc's 8-grams all occur in SOME train
    // doc (val is ~5% of 40, so train is non-empty w.h.p. of the fixed
    // hash split — asserted explicitly below).
    val same = (1L to 40L).map(i => i -> shared).toDF("doc_id", "text")
    val splits = Curation.assignSplits(same).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assume(splits.values.count(_ == "train") > 0 &&
      splits.values.count(_ == "val") > 0)
    val leaked = Curation.splitLeakage(same).collect()
    assert(leaked.map(_.getAs[Long]("doc_id")).toSet ===
      splits.filter(_._2 == "val").keySet)
    leaked.foreach { r =>
      assert(r.getAs[Int]("n_grams") === 3) // 10 tokens -> 3 distinct 8-grams
      assert(r.getAs[Long]("n_leaked") === 3L)
      assert(r.getAs[Double]("leak_share") === 1.0)
      assert(r.getAs[Boolean]("flagged"))
    }
    // All-unique texts: zero overlap, nothing flagged; short docs keep
    // their row with 0 grams.
    val uniq = (1L to 40L).map(i =>
      i -> s"u$i ${"w" + i} x$i y$i z$i a$i b$i c$i d$i e$i").toDF("doc_id", "text")
      .unionAll(Seq(999999L -> "too short").toDF("doc_id", "text"))
    val lu = Curation.splitLeakage(uniq).collect()
    lu.foreach { r =>
      assert(r.getAs[Long]("n_leaked") === 0L)
      assert(r.getAs[Double]("leak_share") === 0.0)
      assert(!r.getAs[Boolean]("flagged"))
    }
    val rep = Curation.splitLeakageReport(same).head()
    assert(rep.getAs[Double]("leak_share") === 1.0)
    assert(rep.getAs[Long]("n_flagged") === rep.getAs[Long]("n_val_docs"))
  }

  test("curriculum: tiers follow the score cuts; positions are contiguous " +
      "per (tier, shard); partition-invariant") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i =>
      i -> s"doc $i filter join scan batch hash row value key part sort")
      .toDF("doc_id", "text")
    val out = Curation.curriculum(corpus, shards = 4).collect()
    assert(out.length === 60)
    out.foreach { r =>
      val s = r.getAs[Double]("quality_score")
      val expected = 1 + Curation.CurriculumCuts.count(s >= _)
      assert(r.getAs[Int]("tier") === expected)
    }
    // Positions are a contiguous 1..n ranking inside every (tier, shard).
    out.groupBy(r => (r.getAs[Int]("tier"), r.getAs[Int]("shard")))
      .foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq ===
          (1 to rs.length).toSeq)
      }
    // Deterministic under repartitioning (hash rank, not physical order).
    val again = Curation.curriculum(corpus.repartition(7), shards = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("tier"), r.getAs[Int]("shard"), r.getAs[Int]("pos")))
      .toMap
    out.foreach { r =>
      assert(again(r.getAs[Long]("doc_id")) ===
        ((r.getAs[Int]("tier"), r.getAs[Int]("shard"), r.getAs[Int]("pos"))))
    }
  }

  test("snapshotDiff: every status class lands where hand-built") {
    import spark.implicits._
    val old = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("doc_id", "text")
    val nw = Seq(1L -> "a", 2L -> "B2", 4L -> "d").toDF("doc_id", "text")
    val st = Curation.snapshotDiff(old, nw).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val rep = Curation.snapshotDiffReport(old, nw).head()
    assert(rep.getAs[Long]("n_old") === 3L)
    assert(rep.getAs[Long]("n_new") === 3L)
    assert(rep.getAs[Long]("n_added") === 1L)
    assert(rep.getAs[Long]("n_removed") === 1L)
    assert(rep.getAs[Long]("n_changed") === 1L)
    assert(rep.getAs[Long]("n_unchanged") === 1L)
    assert(rep.getAs[Double]("churn_share") === 1.0) // 3 moves / 3 new
    // NULL text ≡ empty text on both sides (the engine-wide contract).
    val n1 = Seq((1L, null: String)).toDF("doc_id", "text")
    val n2 = Seq((1L, "")).toDF("doc_id", "text")
    assert(Curation.snapshotDiff(n1, n2).head().getString(1) === "unchanged")
  }

  test("assignStableIds: bucketed two-level ranking equals the naive global one") {
    import spark.implicits._
    // Negative ids exercise floor bucketing; 4100/9999 share a bucket
    // with nothing; 123456 lands far away — offsets must still chain.
    val ids = Seq(-9000L, -1L, 0L, 5L, 4100L, 9999L, 123456L)
    val docs = ids.map(i => (i, s"text-$i")).toDF("doc_id", "text")
    val q = Curation.assignStableIds(docs, bucketWidth = 4096L)
    val out = q.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = ids.sorted.zipWithIndex
      .map { case (d, i) => d -> (i + 1).toLong }.toMap
    assert(out === expected)
    // The fact-side ranking partitions by bucket — never one global sort.
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(bkt"),
      s"ranking window must partition by bucket:\n$plan")
  }

  test("dedupReport: composite figures match hand-built duplication") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      1L -> base, 2L -> base, // exact dup pair (also near dups)
      3L -> (base + " extra"), // near dup of the pair
      4L -> "totally different content with nothing shared here at all")
      .toDF("doc_id", "text")
    val r = Curation.dedupReport(corpus).head()
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Long]("exact_dup_docs") === 1L) // 2 copies -> 1 extra
    // Cluster {1,2,3} keeps doc 1; doc 4 is a singleton keeper.
    assert(r.getAs[Long]("near_dup_prunable") === 2L)
    assert(r.getAs[Double]("near_dup_share") === 0.5)
    assert(r.getAs[Long]("total_lines") > 0L)
  }
}
