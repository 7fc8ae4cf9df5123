package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composite a training-data pipeline runs
  * over raw documents before sampling a training mix — quality gate ∧
  * near-duplicate keeper — annotated with predicted language and token
  * accounting for data budgeting.
  *
  * Plan shape at 100 TB: every signal (gate verdict, language scores,
  * token counts) is a narrow per-document projection — no shuffle, and the
  * document TEXT never moves; the joins exchange only (doc_id, a few
  * scalars), bytes per document. The one heavyweight stage is the
  * near-dup clustering inside [[keepers]], which is the bucketed,
  * skew-guarded MinHash/LSH path ([[Dedup.clusters]]).
  */
object Curation {

  /** Keeper per near-duplicate cluster. [[Dedup.clusters]] labels every
    * component with its minimum doc_id, so the keeper is exactly the
    * document whose id IS its cluster label; singletons keep themselves.
    */
  def keepers(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    Dedup.clusters(docs, k, bands, threshold)
      .where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))

  /** One-row CONTAMINATION dashboard — what share of the corpus each
    * decontamination screen flags against the benchmark split: exact
    * rare-gram overlap, fuzzy MinHash near-dup, and their union (the
    * both-screens figure an eval card reports). Each screen reuses the
    * exact operator behind its standalone query; the two flagged-id
    * frames are materialized once and feed both their own counts and the
    * union count.
    */
  def contaminationReport(
      docs: DataFrame,
      benchPredicate: Column,
      minShared: Int = 3,
      dfCap: Int = 10,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val counts = docs.agg(
      sum(when(benchPredicate, 1L).otherwise(0L)).alias("n_bench"),
      sum(when(benchPredicate, 0L).otherwise(1L)).alias("n_corpus"))
    val exactIds = Materialize(
      contamination(docs, benchPredicate, minShared, dfCap)
        .select(col("doc_id")).distinct())
    val fuzzyIds = Materialize(
      contaminationNearDup(docs.where(!benchPredicate),
        docs.where(benchPredicate), k, bands, threshold)
        .where(col("contaminated")).select(col("doc_id")))
    counts
      .crossJoin(broadcast(exactIds.agg(count(lit(1)).alias("exact_flagged"))))
      .crossJoin(broadcast(fuzzyIds.agg(count(lit(1)).alias("fuzzy_flagged"))))
      .crossJoin(broadcast(exactIds.unionByName(fuzzyIds).distinct()
        .agg(count(lit(1)).alias("either_flagged"))))
      .select(col("n_corpus"), col("n_bench"),
        col("exact_flagged"), col("fuzzy_flagged"), col("either_flagged"),
        round(col("either_flagged").cast("double") /
          greatest(col("n_corpus"), lit(1L)), 6).alias("flagged_share"))
  }

  /** One-row DEDUPLICATION dashboard — the corpus's duplication measured
    * at every granularity the engine dedups at, in one scheduled query:
    * exact (content-hash distinct), near (MinHash cluster non-keepers),
    * and line-level (duplicated-line share over the wrapped view). The
    * "how redundant is this snapshot" companion of [[corpusReport]].
    *
    * Three bounded 1-row aggregates cross-joined (the scalar-broadcast
    * pattern); each reuses the exact operator its standalone query runs,
    * so the dashboard cannot drift from the detailed reports.
    */
  def dedupReport(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val exact = docs.agg(
      count(lit(1)).alias("n_docs"),
      countDistinct(sha2(col("text"), 256)).alias("n_distinct_texts"))
    val keep = keepers(docs, k, bands, threshold)
      .agg(count(lit(1)).alias("n_keepers"))
    val lines = Dedup.lineDedup(Dedup.wrapTokenLines(docs)).agg(
      sum(col("n_lines")).alias("total_lines"),
      sum(col("n_dropped")).alias("dup_lines"))
    exact.crossJoin(broadcast(keep)).crossJoin(broadcast(lines))
      .select(
        col("n_docs"),
        (col("n_docs") - col("n_distinct_texts")).alias("exact_dup_docs"),
        (col("n_docs") - col("n_keepers")).alias("near_dup_prunable"),
        round((col("n_docs") - col("n_keepers")).cast("double") /
          greatest(col("n_docs"), lit(1L)), 6).alias("near_dup_share"),
        col("total_lines"), col("dup_lines"),
        round(col("dup_lines").cast("double") /
          greatest(col("total_lines"), lit(1L)), 6).alias("dup_line_share"))
  }

  /** Curated-corpus manifest: documents that pass the quality gate AND are
    * their cluster's keeper, with language and token counts attached —
    * `(doc_id, predicted_lang, ws_tokens, bpeish_tokens)`, what a sampler
    * needs to draw a training mix. Deliberately does NOT drop
    * `predicted_lang = 'unknown'`: the manifest reports language, the
    * sampler chooses the mix.
    */
  def curate(
      docs: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    // ONE signal scan ([[TextAnalysis.curationSignals]] fuses gate +
    // language + token counts into a single projection), ONE join with the
    // keeper set — not a join per signal.
    TextAnalysis.curationSignals(docs)
      .where(col("passed"))
      .join(keepers(docs, k, bands, threshold), "doc_id")
      .select(col("doc_id"), col("predicted_lang"),
        col("ws_tokens"), col("bpeish_tokens"))

  /** END-TO-END curation pipeline in ONE query — the "it all composes"
    * funnel: encoding screen → quality gate → near-dup keepers →
    * per-source cap → split, with per-stage survivor counts as the single
    * output row. Every stage reuses the standalone operator (or its
    * extracted Column form), the [[dedupReport]]/[[contaminationReport]]
    * discipline, so the funnel cannot drift from the detailed reports.
    *
    * Exactly TWO corpus scans (plan-asserted): scan 1 fuses the encoding
    * verdict ([[TextRules.encodingSuspect]] inlined), the gate + language
    * + token signals ([[TextAnalysis.curationSignals]] with source/lang
    * metadata passed through on the same scan), and the split hash; scan 2
    * is the MinHash/LSH keeper machinery — the one genuinely heavyweight
    * stage. Cluster structure is computed corpus-WIDE and intersected with
    * the gate survivors (the [[curate]] convention: dedup decisions do not
    * depend on gate tuning). All later stages run on materialized
    * id+metadata frames; text never enters an Exchange.
    */
  def curatePipeline(
      docs: DataFrame,
      maxPerSource: Int = 20,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // Fixture n_chars is renamed around the scan: curationSignals computes
    // its own n_chars signal internally, and capBySource wants the table
    // column back under its original name.
    val sig = Materialize(TextAnalysis.curationSignals(
      docs
        .withColumn("enc_ok", !TextRules.encodingSuspect(col("text")))
        .withColumnRenamed("n_chars", "src_n_chars"),
      passThrough = Seq("enc_ok", "source", "lang", "src_n_chars")))
    val base = sig.agg(
      count(lit(1)).alias("n_docs"),
      sum(when(col("enc_ok"), 1L).otherwise(0L)).alias("n_encoding_clean"),
      sum(when(col("enc_ok") && col("passed"), 1L).otherwise(0L))
        .alias("n_gate_passed"))
    val survivors = Materialize(
      sig.where(col("enc_ok") && col("passed"))
        // Project down to what the cap/split stages consume BEFORE the
        // keeper join: the full signal row (per-language scores, ratios,
        // reject reason) otherwise rides the keeper join's shuffle and
        // the materialized frame — the stage that OOM'd the sf10 probe
        // at default heap (r16 verdict item 3; BASELINE.md §sf10).
        .select(col("doc_id"), col("source"), col("lang"),
          col("src_n_chars").alias("n_chars"))
        .join(keepers(docs, k, bands, threshold), "doc_id"))
    val nKeep = survivors.agg(count(lit(1)).alias("n_keepers"))
    val capped = capBySource(survivors, maxPerSource)
      .select(col("doc_id"), splitColumn(fractions).alias("split"))
    val capAgg = capped.agg(
      count(lit(1)).alias("n_capped"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).alias("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).alias("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).alias("n_test"))
    base.crossJoin(broadcast(nKeep)).crossJoin(broadcast(capAgg))
      .select(
        col("n_docs"), col("n_encoding_clean"), col("n_gate_passed"),
        col("n_keepers"), col("n_capped"),
        col("n_train"), col("n_val"), col("n_test"),
        round(col("n_capped").cast("double") /
          greatest(col("n_docs"), lit(1L)), 6).alias("retained_share"))
  }

  /** Sequence packing — "concatenate and chop", the layout GPT-style
    * pretraining feeds the model: documents are laid end-to-end in a
    * deterministic order and cut into `budget`-token sequences; each doc
    * reports the pack its first token lands in. A single global ordering
    * would funnel the corpus through one window partition, so packing is
    * done independently inside `buckets` hash-buckets (pack identity =
    * (bucket, pack_id)) — embarrassingly parallel, deterministic, and at
    * most one under-filled pack per bucket.
    */
  def packSequences(
      docs: DataFrame,
      budget: Int = 2048,
      buckets: Int = 32): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    val toks = TextAnalysis.tokenCounts(docs)
      .select(col("doc_id"), col("ws_tokens"))
    val bucketed = toks.withColumn("bucket",
      pmod(Dedup.hashAt(0, col("doc_id").cast("string")),
        lit(buckets.toLong)).cast("int"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    bucketed
      .withColumn("cum", sum(col("ws_tokens")).over(w))
      .select(col("doc_id"), col("bucket"),
        floor((col("cum") - col("ws_tokens")) / lit(budget.toDouble))
          .cast("int").alias("pack_id"),
        col("ws_tokens"))
  }

  /** Packing-efficiency report: ONE row over [[packSequences]]' layout —
    * pack count, token fill rate against the budget, and the share of
    * packs the cumulative-offset rule let overflow (a doc straddling the
    * boundary lands in the pack where it STARTS) — the metric that turns
    * into training throughput: fill rate IS the fraction of non-padding
    * positions in a fixed-length batch.
    */
  def packEfficiency(
      docs: DataFrame,
      budget: Int = 2048,
      buckets: Int = 32): DataFrame = {
    val packs = packSequences(docs, budget, buckets)
      .groupBy(col("bucket"), col("pack_id"))
      .agg(sum(col("ws_tokens")).alias("pack_tokens"))
    packs
      .agg(
        count(lit(1)).alias("n_packs"),
        sum(col("pack_tokens")).alias("total_tokens"),
        sum(when(col("pack_tokens") > budget, 1L).otherwise(0L))
          .alias("n_overflow"))
      .select(col("n_packs"), col("total_tokens"),
        round(col("total_tokens").cast("double") /
          greatest(col("n_packs") * budget, lit(1L)), 6).alias("fill_rate"),
        round(col("n_overflow").cast("double") /
          greatest(col("n_packs"), lit(1L)), 6).alias("overflow_share"))
  }

  /** Overlapping token-window chunking — the context-window prep step
    * every RAG/pretraining pipeline runs on long documents: windows of
    * `chunkSize` tokens starting every `stride` tokens (overlap =
    * chunkSize − stride). Pure projection + generator: tokens staged once,
    * chunk starts from a `sequence`, one `posexplode` — no shuffle, no
    * state; at 100 TB this is a map-only pass whose output is the chunk
    * table. Empty documents yield no chunks (nothing to window).
    */
  def chunkDocuments(
      docs: DataFrame,
      chunkSize: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkSize > 0, s"chunk size must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    docs
      .select(col("doc_id"), Dedup.tokens(col("text")).alias("t"))
      .select(col("doc_id"), col("t"), size(col("t")).alias("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride))))
      .select(col("doc_id"),
        col("pos").alias("chunk_id"),
        slice(col("t"), col("col") + 1, lit(chunkSize)).alias("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).alias("n_chunk_tokens"),
        array_join(col("chunk"), " ").alias("chunk_text"))
  }

  /** Benchmark decontamination: flags corpus documents sharing at least
    * `minShared` RARE word-bigrams with any benchmark document — the
    * standard check that evaluation data has not leaked into training
    * data. `benchPredicate` marks the benchmark rows inside `docs`.
    *
    * Grams occurring in more than `dfCap` documents are dropped first:
    * common grams ("of the") carry no contamination signal, and they are
    * exactly the hot join keys that would blow the gram equi-join up at
    * corpus scale — one filter serves both precision and skew-safety.
    * Shape: explode → df-filter (map-side-combinable groupBy) → equi-join
    * on gram → per-pair distinct count. No all-pairs product.
    */
  def contamination(
      docs: DataFrame,
      benchPredicate: Column,
      minShared: Int = 3,
      dfCap: Int = 10): DataFrame = {
    val exploded = Dedup.shingleSets(docs)
      .select(col("doc_id"), explode(col("grams")).alias("g"))
    val rareGrams = exploded.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).alias("gram_df"))
      .where(col("gram_df") <= dfCap)
      .select(col("g"))
    val rare = exploded.join(rareGrams, "g")
    val bench = docs.where(benchPredicate).select(col("doc_id"))
    val corpus = docs.where(!benchPredicate).select(col("doc_id"))
    rare.join(corpus, "doc_id")
      .join(
        rare.join(bench, "doc_id")
          .select(col("g"), col("doc_id").alias("bench_id")),
        "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("g")).cast("int").alias("shared_grams"))
      .where(col("shared_grams") >= minShared)
  }

  /** Deterministic train/val/test assignment: each document's md5-derived
    * hash bucket (0-9999, family member [[SplitHashIndex]] — deliberately a
    * DIFFERENT member than [[sampleByLanguage]]'s, so split membership is
    * independent of sample membership) is cut by the cumulative fraction
    * boundaries. Reproducible across runs/engines/partitionings, and
    * growing one split's fraction only migrates documents across the
    * adjacent boundary — it never reshuffles the interior (the property
    * that keeps val/test stable while train grows). Pure projection; no
    * shuffle. Fractions must sum to ≤ 1; any remainder falls into the LAST
    * named split (boundaries are cumulative-exclusive upper bounds, last
    * split catches the tail).
    */
  def assignSplits(
      docs: DataFrame,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): DataFrame = {
    require(fractions.nonEmpty, "at least one split required")
    require(fractions.forall(_._2 >= 0),
      s"negative split fraction in $fractions — the cumulative boundaries " +
        "would go non-monotonic and silently empty a split")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum to ${fractions.map(_._2).sum} > 1")
    docs.select(col("doc_id"), splitColumn(fractions).alias("split"))
  }

  /** The split verdict as a pure Column over `doc_id` — extracted so
    * operators can INLINE it into their own scan (the gate-inlining trick)
    * instead of joining [[assignSplits]] back by doc_id.
    *
    * CASE over cumulative upper bounds; the last split is the otherwise
    * branch so fraction rounding can never produce an unlabeled row. The
    * boundaries are INTEGER buckets ([[splitBounds]]) — float cumulative
    * sums (0.9 + 0.05 = 0.9500000000000001) sit exactly on bucket edges
    * and would let two engines' numeric types disagree on the boundary
    * document; rounding once, in one place, removes the hazard.
    */
  def splitColumn(
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): Column =
    splitColumnOn(col("doc_id"), fractions)

  /** [[splitColumn]] generalized to an arbitrary id column — the same
    * hash-family member and integer boundaries, so `splitColumnOn(doc_id)`
    * ≡ `splitColumn()` and [[splitClusterSafe]] can cut on CLUSTER ids
    * without a second boundary definition drifting.
    */
  def splitColumnOn(
      id: Column,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): Column = {
    val bucket = pmod(
      Dedup.hashAt(SplitHashIndex, id.cast("string")), lit(10000L))
    fractions.init.zip(splitBounds(fractions).init)
      .foldRight(lit(fractions.last._1): Column) { case (((name, _), cut), rest) =>
        when(bucket < lit(cut), lit(name)).otherwise(rest)
      }
  }

  /** Power-of-two LENGTH-BUCKET batching report — the padding-efficiency
    * diagnostic of bucketed training batches: documents grouped by
    * `⌊log₂(tokens)⌋ + 1` (computed as the BINARY-DIGIT COUNT of the
    * token count, an all-integer path — `floor(log2(x))` through IEEE
    * log is off-by-one-able exactly at the powers of two that define the
    * buckets), and per bucket the tokens a pad-to-in-bucket-max batcher
    * would waste. Buckets with efficiency well under ~0.75 say "split
    * this bucket"; the report is what a data loader's bucketing config
    * is tuned against.
    *
    * Shape: one corpus scan, token counts in the scan projection, one
    * ≤64-key groupBy (map-side combined) — embarrassingly parallel, the
    * ideal 100 TB diagnostic. Empty docs clamp to bucket 1 with
    * n_toks = 0; the efficiency denominator is floored at 1.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"),
      size(Dedup.tokens(col("text"))).alias("n_toks"))
    val bucket =
      length(conv(greatest(col("n_toks"), lit(1)).cast("string"), 10, 2))
    staged
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).alias("n_docs"),
        min(col("n_toks")).alias("min_toks"),
        max(col("n_toks")).alias("max_toks"),
        sum(col("n_toks")).cast("long").alias("sum_toks"))
      .select(col("bucket"), col("n_docs"), col("min_toks"),
        col("max_toks"), col("sum_toks"),
        (col("max_toks") * col("n_docs") - col("sum_toks"))
          .alias("pad_waste_toks"),
        round(col("sum_toks").cast("double") /
          greatest(col("max_toks") * col("n_docs"), lit(1L)), 6)
          .alias("pad_efficiency"))
  }

  /** Near-dup-CLUSTER-safe split assignment: the split hash is cut on the
    * document's verified near-dup component label, not its own id, so an
    * entire cluster of near-duplicates lands in ONE split — the
    * train/val leakage [[splitLeakage]] detects after the fact is zero BY
    * CONSTRUCTION for every pair the LSH+verify chain can see. The
    * standard fix for the "val doc is a near-copy of a train doc" eval
    * inflation (per-document hashing splits a 2-doc cluster across
    * train/val with probability ≈ 2·p·(1−p)).
    *
    * Shape: verified pairs from the LSH band join + exact-Jaccard verify
    * ([[graft.ops.Dedup.ngramJaccard]]), components via the pointer-jumping
    * CC loop (graph-only iteration, singletons attach once), then the
    * split CASE is a pure projection on the label — the corpus text never
    * shuffles beyond the shingling pass the dedup family already pays.
    * Singleton docs label themselves, so their assignment is the plain
    * [[assignSplits]] hash of their own id.
    */
  def splitClusterSafe(
      docs: DataFrame,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      k: Int = 16,
      bands: Int = 4,
      estThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.3): DataFrame = {
    val pairs = Dedup.ngramJaccard(docs, k, bands, estThreshold,
      jaccardThreshold).select(col("a_id"), col("b_id"))
    Dedup.componentsFromPairs(pairs, docs.select(col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        splitColumnOn(col("cluster_id"), fractions).alias("split"))
  }

  /** Cumulative integer bucket boundaries (of 10000) for [[assignSplits]] —
    * public so the oracle SQL interpolates the SAME integers.
    */
  def splitBounds(fractions: Seq[(String, Double)]): Seq[Long] =
    fractions.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * 10000))

  /** Hash-family member for [[assignSplits]] — shared with the oracle SQL. */
  val SplitHashIndex = 7

  /** Deterministic global shuffle for training order: every document gets a
    * (shard, pos) — shard by one hash-family member, position by
    * row_number over a SECOND member (doc_id tie-break), so the order is a
    * reproducible pseudo-random permutation with no RNG state. At 100 TB
    * pick `nShards` so one shard's manifest fits a window partition
    * (~corpus/nShards rows of (doc_id, hash) — scalars only, the text
    * never moves); the per-shard sort is the unavoidable cost of
    * materializing a training order, and it parallelizes across shards.
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 64): DataFrame = {
    require(nShards > 0, s"shard count must be positive, got $nShards")
    val id = col("doc_id").cast("string")
    val shard = pmod(Dedup.hashAt(ShardHashIndex, id), lit(nShards.toLong))
      .cast("int")
    val order = Dedup.hashAt(OrderHashIndex, id)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    docs.select(col("doc_id"), shard.alias("shard"), order.alias("ord"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Hash-family members for [[shuffleShards]] — shared with the oracle. */
  val ShardHashIndex = 11
  val OrderHashIndex = 13

  /** [[curriculum]] constants — shared with the oracle twin. Cuts sit on
    * the fixture score quartiles (≈ 0.490/0.501/0.512) so every tier is
    * populated; distinct hash-family members keep curriculum placement
    * independent of split/sample/shuffle membership. */
  val CurriculumCuts: Seq[Double] = Seq(0.49, 0.50, 0.51)
  val CurriculumShards = 16
  val CurriculumShardIndex = 19
  val CurriculumOrderIndex = 23

  /** Quality-annealed CURRICULUM ordering — the "best data last" training
    * schedule (the FineWeb-Edu-style anneal: finish training on the
    * highest-quality tier): every document gets a quality TIER (1 +
    * number of [[CurriculumCuts]] its ROUNDED hashed-gram
    * [[TextAnalysis.qualityScore]] clears — fixed cutoffs, not ntile,
    * because a global quantile window would funnel the corpus through
    * one partition), a deterministic shard, and a position from a hash
    * rank within (tier, shard). A consumer streams tiers in ascending
    * order, shards in parallel, positions in order — reproducible across
    * runs/engines/partitionings, and the per-(tier, shard) windows keep
    * the sort embarrassingly parallel (the [[shuffleShards]] argument).
    * Only (doc_id, score, two ints) enter the exchange; the score itself
    * is computed at scan speed (codegen'd kernels, no shuffle).
    */
  def curriculum(
      docs: DataFrame,
      cuts: Seq[Double] = CurriculumCuts,
      shards: Int = CurriculumShards): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted,
      s"curriculum cuts must be non-empty ascending, got $cuts")
    require(shards > 0, s"shard count must be positive, got $shards")
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("quality_score"))
    val tier = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("quality_score") >= c, 1).otherwise(0)
    }
    val shard = pmod(
      Dedup.hashAt(CurriculumShardIndex, col("doc_id").cast("string")),
      lit(shards.toLong)).cast("int")
    val ord =
      Dedup.hashAt(CurriculumOrderIndex, col("doc_id").cast("string"))
    val w = Window.partitionBy(col("tier"), col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    scored
      .withColumn("tier", tier.cast("int"))
      .withColumn("shard", shard)
      .withColumn("ord", ord)
      .withColumn("pos", row_number().over(w).cast("int"))
      .select(col("doc_id"), col("quality_score"), col("tier"),
        col("shard"), col("pos"))
  }

  /** [[splitLeakage]] n-gram order and per-doc flag threshold — shared
    * with the oracle twins. 8-grams sit in the published range (GPT-3
    * decontaminated at 13-grams, FLAN at 8); the flag fires when half a
    * val document's grams also appear in train. */
  val LeakGramN = 8
  val LeakFlagShare = 0.5

  /** TRAIN→VAL n-gram LEAKAGE screen — the memorization-overlap audit an
    * eval card runs on its OWN split before trusting val loss (the
    * GPT-2/3-style "how much of the held-out set is literally in
    * training" check; [[contamination]] screens against an external
    * benchmark, this screens the split against itself). Per val
    * document: distinct word-[[LeakGramN]]-grams, how many also occur in
    * ANY train document, the leaked share, and a flag at
    * [[LeakFlagShare]].
    *
    * Distributed shape: one corpus scan builds per-doc DISTINCT gram-hash
    * arrays in the row (tokens → sliding slice → xxhash64 — the
    * [[Dedup.lineDedup]] discipline: every Exchange carries 8-byte
    * hashes, never gram text); the split verdict is the inlined
    * [[splitColumn]] (no join). The train side reduces to distinct hashes
    * (map-side combined), the val side explodes ≤ grams-per-doc rows, and
    * the overlap is a hash equi-join. Share compares at the ROUNDED value
    * so the flag is bit-stable cross-engine. Val docs with < n tokens
    * keep their row (0 grams, share 0).
    */
  def splitLeakage(
      docs: DataFrame,
      n: Int = LeakGramN,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      flagShare: Double = LeakFlagShare): DataFrame = {
    require(n >= 2, s"n-gram order must be ≥ 2, got $n")
    val t = Dedup.tokens(col("text"))
    val grams = when(size(t) >= n,
      array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
        i => xxhash64(array_join(slice(t, i, lit(n)), " ")))))
      .otherwise(array().cast("array<bigint>"))
    val tagged = Materialize(docs.select(
      col("doc_id"),
      splitColumn(fractions).alias("split"),
      grams.alias("gs")))
    val trainG = tagged.where(col("split") === "train")
      .select(explode(col("gs")).alias("h")).distinct()
    val valDocs = tagged.where(col("split") === "val")
      .select(col("doc_id"), size(col("gs")).alias("n_grams"), col("gs"))
    val hits = valDocs
      .select(col("doc_id"), explode(col("gs")).alias("h"))
      .join(trainG.withColumn("hit", lit(true)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).alias("n_leaked"))
    val share = round(coalesce(col("n_leaked"), lit(0L)).cast("double") /
      greatest(col("n_grams"), lit(1)), 6)
    valDocs.drop("gs")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).alias("n_leaked"),
        share.alias("leak_share"),
        (share >= flagShare).alias("flagged"))
  }

  /** One-row rollup of [[splitLeakage]]: val doc/gram totals, the
    * micro-averaged leaked share (total leaked ÷ total grams — exact
    * integer division, no summation-order hazard a macro-average of
    * doubles would carry), the worst single document, and the flagged
    * count. */
  def splitLeakageReport(
      docs: DataFrame,
      n: Int = LeakGramN,
      fractions: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      flagShare: Double = LeakFlagShare): DataFrame =
    splitLeakage(docs, n, fractions, flagShare).agg(
      count(lit(1)).alias("n_val_docs"),
      sum(col("n_grams").cast("long")).alias("n_val_grams"),
      sum(col("n_leaked")).alias("n_leaked_grams"),
      max(col("leak_share")).alias("max_doc_share"),
      sum(when(col("flagged"), 1L).otherwise(0L)).alias("n_flagged"))
      .select(
        col("n_val_docs"), col("n_val_grams"), col("n_leaked_grams"),
        round(col("n_leaked_grams").cast("double") /
          greatest(col("n_val_grams"), lit(1L)), 6).alias("leak_share"),
        col("max_doc_share"), col("n_flagged"))

  /** Token-budget mixing with repetition: given a per-language token
    * target, how many epochs of each document does the mix contain?
    * Whole epochs are `target div lang_tokens`; the fractional remainder
    * is realized by giving one extra epoch to the deterministic hash-bucket
    * prefix of documents covering `remainder/lang_tokens` of the stratum —
    * integer arithmetic only, so the mix is exact, reproducible, and
    * engine-independent. Languages without a target get 0 epochs (the
    * report keeps their rows; the sampler drops them). Shape: one signal
    * scan, one tiny broadcast join of per-language totals — the corpus
    * never shuffles.
    */
  def mixEpochs(
      docs: DataFrame,
      targetTokens: Map[String, Long]): DataFrame = {
    require(targetTokens.values.forall(_ >= 0), "targets must be ≥ 0")
    val sig = TextAnalysis.curationSignals(docs)
      .select(col("doc_id"), col("predicted_lang"), col("ws_tokens"))
    val totals = sig.groupBy(col("predicted_lang"))
      .agg(sum(col("ws_tokens")).alias("lang_tokens"))
    val target = targetTokens.foldRight(lit(0L)) { case ((l, t), rest) =>
      when(col("predicted_lang") === l, lit(t)).otherwise(rest)
    }
    val bucket = pmod(
      Dedup.hashAt(MixHashIndex, col("doc_id").cast("string")), lit(10000L))
    // A zero-token stratum cannot realize ANY token target — gate the whole
    // epoch expression on lang_tokens > 0 (the div guard alone would hand
    // such a stratum `target` whole epochs and the draw would always fire).
    // A target language with no corpus rows yields no rows, by design: the
    // report mixes what exists; validate requested languages upstream.
    sig.join(broadcast(totals), "predicted_lang")
      .withColumn("target", target)
      .withColumn("whole", expr("target div greatest(lang_tokens, 1)"))
      .withColumn("rem", col("target") - col("whole") * col("lang_tokens"))
      .select(
        col("doc_id"), col("predicted_lang"), col("ws_tokens"),
        when(col("lang_tokens") > 0,
          col("whole") +
            when(bucket * col("lang_tokens") < col("rem") * 10000, 1L)
              .otherwise(0L))
          .otherwise(0L).cast("int").alias("n_epochs"))
  }

  /** Hash-family member for [[mixEpochs]]' fractional draw. */
  val MixHashIndex = 17

  /** Benchmark decontamination, Bloom-prefiltered — the 100 TB shape of
    * [[contamination]] with IDENTICAL output. The benchmark's rare-gram
    * set is tiny (benchmarks are, by definition), so a Bloom filter over it
    * broadcasts to every executor and pre-drops corpus gram rows before
    * they reach the shuffle for the gram join: the join's corpus side
    * shrinks from "every rare gram occurrence in 100 TB" to "occurrences
    * that MIGHT hit the benchmark" (fpp of everything else). False
    * positives survive the prefilter but die in the exact equi-join that
    * follows, so the result is exact, not approximate — the filter only
    * moves bytes out of the shuffle.
    */
  def contaminationBloom(
      docs: DataFrame,
      benchPredicate: Column,
      minShared: Int = 3,
      dfCap: Int = 10,
      expectedBenchGrams: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    // Rare-gram vocabulary from the FULL corpus (bench included — df must
    // count every occurrence), checkpointed: the Bloom build below is an
    // eager action, and without the checkpoint the df-cap groupBy (a full
    // corpus pass) would run twice — once for the filter bits, once for
    // the main query. The list is vocabulary-bounded (distinct grams with
    // df ≤ cap), orders of magnitude smaller than the occurrence stream.
    val rareGrams = Dedup.shingleSets(docs)
      .select(col("doc_id"), explode(col("grams")).alias("g"))
      .groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).alias("gram_df"))
      .where(col("gram_df") <= dfCap)
      .select(col("g"))
      .transform(Materialize(_))
    // Shingle the two doc populations separately so the bench predicate
    // reaches the scan: the Bloom-build pass reads ONLY benchmark rows,
    // never the corpus.
    def rareOf(part: DataFrame): DataFrame = part
      .select(col("doc_id"), explode(col("grams")).alias("g"))
      .join(rareGrams, "g")
    // Materialized: the bench-side rare-gram stream has TWO consumers —
    // the Bloom build (an eager head() action) and the final gram join —
    // and without the checkpoint each re-shingles the benchmark partition
    // and re-joins the rare vocabulary, a full extra pass over the bench
    // slice at any scale.
    val benchRare = Materialize(
      rareOf(Dedup.shingleSets(docs.where(benchPredicate)))
        .select(col("g"), col("doc_id").alias("bench_id")))
    // Native Bloom expressions (graft.functions.Bloom): the filter builds
    // distributed (BloomFilterAggregate over xxhash64'd grams — the same
    // kernel Spark's runtime-filter feature uses), collapses to one binary
    // row on the driver, and probes map-side as a literal INSIDE
    // whole-stage codegen — the Scala-closure UDF this replaces broke
    // codegen at every probe row.
    val bloomBytes = benchRare
      .agg(graft.functions.Bloom
        .aggregate(xxhash64(col("g")), expectedBenchGrams, fpp).alias("bf"))
      .head.getAs[Array[Byte]]("bf")
    rareOf(Dedup.shingleSets(docs.where(!benchPredicate)))
      .where(graft.functions.Bloom.mightContain(bloomBytes, xxhash64(col("g"))))
      .join(benchRare, "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("g")).cast("int").alias("shared_grams"))
      .where(col("shared_grams") >= minShared)
  }

  /** Deterministic stratified downsampling by language — the "draw the
    * training mix" step. A document is kept iff its md5-derived hash
    * bucket (0-9999) falls below `rate(stratum)`·10000: no RNG, so the
    * sample is reproducible across runs, engines, and partitionings, and
    * two samples at rates r₁ ≤ r₂ nest (the smaller is a subset of the
    * larger) — the property a data-mix ablation needs. Unknown strata
    * default to `defaultRate`. Pure projection + filter; no shuffle.
    */
  def sampleByLanguage(
      docs: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    val lang = TextAnalysis.langId(docs)
      .select(col("doc_id"), col("predicted_lang"))
    val bucket = pmod(Dedup.hashAt(0, col("doc_id").cast("string")),
      lit(10000L))
    val rate = rates.foldRight(lit(defaultRate)) { case ((l, r), rest) =>
      when(col("predicted_lang") === l, lit(r)).otherwise(rest)
    }
    lang.where(bucket < rate * 10000)
  }

  /** Fixed-size deterministic sample per stratum — exactly `k` documents
    * from every language (fewer only when the stratum itself is smaller),
    * drawn by ranking on a seeded md5 of the document id. Where
    * [[sampleByLanguage]] keeps a RATE (output grows with the corpus),
    * this keeps a COUNT: the eyeball-QA / labeling-batch draw whose size
    * must not move when the corpus 100×es. Same determinism story as the
    * rate sampler — the draw is a pure function of (seed, doc_id), so it
    * reproduces across runs, engines, and partitionings — plus nesting in
    * `k`: the top-10 draw is a prefix of the top-20 draw.
    *
    * Plan shape: the rank-≤-k filter over a partitioned row_number
    * compiles to WindowGroupLimit (plan-asserted), so each map task keeps
    * only a k-sized heap per stratum BEFORE the shuffle — the exchange
    * carries ≤ k·partitions rows per stratum, never the corpus. The
    * doc_id tie-break makes the rank total even if md5 ever collided.
    */
  def sampleGrouped(
      docs: DataFrame,
      groupCol: String = "lang",
      k: Int = 20,
      seed: String = "graft-v1"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val draw = md5(concat(lit(seed), lit(":"),
      col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(draw, col("doc_id"))
    docs
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
      .select(col(groupCol), col("sample_rank").cast("int"), col("doc_id"),
        col("source"), col("n_chars"))
  }

  /** Weighted-without-replacement fixed-k sample (Efraimidis–Spirakis
    * A-ES): each document draws a deterministic uniform `u` from a seeded
    * 60-bit hash of its id and ranks by `ln(u)/w` — the top k by that key
    * are a weight-proportional draw (a doc with twice the weight is twice
    * as likely in), the mix sampler's missing half: [[mixEpochs]] hits a
    * TOKEN budget per source, this draws k WHOLE documents biased toward
    * the weight column (chars ≈ tokens ≈ training value) with no RNG.
    * Deterministic and engine-reproducible like every sampler here;
    * `u = (hash + 0.5) / 2⁶⁰` keeps `u` strictly inside (0,1), so `ln`
    * never sees 0. Zero/negative weights are excluded (A-ES precondition).
    *
    * Plan shape: the global top-k compiles to TakeOrderedAndProject
    * (plan-asserted) — per-partition k-sized heaps, one k-row driver
    * merge; no global sort, no single-partition window, corpus never
    * shuffles.
    */
  def sampleWeighted(
      docs: DataFrame,
      k: Int = 50,
      weightCol: String = "n_chars",
      seed: String = "graft-w1"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u = (Dedup.hashAt(0, concat(lit(seed), lit(":"),
      col("doc_id").cast("string"))).cast("double") + 0.5) /
      math.pow(2, 60)
    val key = log(u) / col(weightCol).cast("double")
    docs
      .where(col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol))
      .orderBy(key.desc, col("doc_id"))
      .limit(k)
  }

  /** Per-stratum weighted fixed-k sample — the remaining cell of the
    * sampler matrix (grouped unweighted = `sampleGrouped`, global weighted
    * = `sampleWeighted`): k docs PER LANGUAGE, drawn
    * weight-proportionally WITHIN each language by the same A-ES
    * exponential-rank key (Efraimidis-Spirtis), md5-derived and
    * seed-stable. The draw a mix builder actually wants: per-language
    * quotas AND quality/length bias inside each quota.
    *
    * Plan shape: the `rank ≤ k` predicate pushes into the window exec as
    * WindowGroupLimit (plan-asserted for `sampleGrouped`; same shape) —
    * per-task k-heaps per stratum before the shuffle, ≤ k·partitions rows
    * per stratum ever move.
    */
  def sampleGroupedWeighted(
      docs: DataFrame,
      k: Int = 20,
      weightCol: String = "n_chars",
      seed: String = "graft-gw1"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u = (Dedup.hashAt(0, concat(lit(seed), lit(":"),
      col("doc_id").cast("string"))).cast("double") + 0.5) /
      math.pow(2, 60)
    val key = log(u) / col(weightCol).cast("double")
    val w = Window.partitionBy(col("lang"))
      .orderBy(key.desc, col("doc_id"))
    docs
      .where(col(weightCol) > 0)
      .select(col("lang"), col("doc_id"), col(weightCol))
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
      .select(col("lang"), col("sample_rank").cast("int").alias("sample_rank"),
        col("doc_id"), col(weightCol))
  }

  /** Per-source corpus CAP — the RefinedWeb/FineWeb per-domain rule: no
    * source (domain, crawl host, feed) may contribute more than
    * `maxPerSource` documents, so a single mega-domain cannot dominate
    * the training mix. Survivors within a source are chosen by a seeded
    * md5 rank of the document id (deterministic, engine-reproducible,
    * nesting in the cap: the cap-10 survivors are a prefix of the
    * cap-20 survivors), doc_id tie-break — NOT by position, so the draw
    * is unbiased w.r.t. ingest order.
    *
    * Plan shape: identical to [[sampleGrouped]] — the `cap_rank ≤ cap`
    * filter over the partitioned row_number compiles to WindowGroupLimit
    * (plan-asserted), per-task cap-sized heaps per source before the
    * shuffle; the exchange carries ≤ cap·partitions rows per source and
    * the text column never enters it.
    */
  def capBySource(
      docs: DataFrame,
      maxPerSource: Int = 20,
      seed: String = "graft-cap1"): DataFrame = {
    require(maxPerSource > 0,
      s"per-source cap must be positive, got $maxPerSource")
    val draw = md5(concat(lit(seed), lit(":"),
      col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(draw, col("doc_id"))
    docs
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("cap_rank", row_number().over(w))
      .where(col("cap_rank") <= maxPerSource)
      .select(col("source"), col("cap_rank").cast("int").alias("cap_rank"),
        col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Dense, stable, GLOBAL row numbering ordered by `doc_id` — the
    * "assign contiguous example ids" step every sharded training run
    * wants, and the classic scale trap: `row_number() OVER (ORDER BY …)`
    * with no partition key collapses the whole corpus into ONE window
    * partition (one task sorts 100 TB). The scale-safe shape is
    * two-level: range-bucket the key map-side (`doc_id // width` — order-
    * preserving across buckets), count per bucket (map-side combinable,
    * bucket-sized output), prefix-sum the counts into per-bucket offsets
    * (a driver-scale window over buckets only), broadcast the offsets
    * back, and rank WITHIN each bucket — every stage is parallel over
    * buckets, no task ever sees more than one bucket's rows.
    *
    * Fixed-width buckets (not quantile-based) keep the offsets join
    * free of a sampling pass; a skewed id space only skews bucket
    * SIZES, and `bucketWidth` bounds that at `width` rows per task.
    * Output ids are 1-based, dense, and equal to the naive global
    * `row_number` — the oracle pins exactly that equivalence.
    *
    * SIZING: the offsets frame has (id-range ÷ width) rows and must stay
    * driver/broadcast-scale — pick `bucketWidth` so that lands in the
    * 10⁴–10⁵ range (e.g. ~2M for 10¹¹ dense ids). The default suits the
    * fixture-scale id space; it is a knob, not a constant.
    */
  def assignStableIds(docs: DataFrame, bucketWidth: Long = 4096L): DataFrame = {
    require(bucketWidth > 0, s"bucket width must be positive: $bucketWidth")
    val bucketed = docs.select(col("doc_id"),
      floor(col("doc_id") / bucketWidth).alias("bkt"))
    val offsets = bucketed.groupBy(col("bkt"))
      .agg(count(lit(1)).alias("n"))
      .withColumn("offset", coalesce(
        // Bucket-count frame only: rows = id-range/width, driver-scale.
        sum(col("n")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bkt").alias("obkt"), col("offset"))
    val wInBucket = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
    bucketed
      .join(broadcast(offsets), col("bkt") === col("obkt"))
      .select(col("doc_id"),
        (col("offset") + row_number().over(wInBucket))
          .alias("stable_id"))
  }

  /** One-row source-concentration report — the diagnostic that motivates
    * [[capBySource]]: how skewed is the corpus across sources? Emits
    * document and source totals, the largest source (ties broken by
    * name, so the row is deterministic), top-1 and top-5 shares, the
    * Herfindahl–Hirschman index Σ(shareᵢ²) over document counts, and its
    * reciprocal (the "effective number of sources" — 1/HHI equals the
    * source count exactly when the mix is uniform).
    *
    * Numerics: HHI is staged as Σ(nᵢ²)/N² in DECIMAL — counts are exact
    * integers, squared and summed without float error (BIGINT would
    * overflow at ~3B docs/source), with ONE double division at the end —
    * so the 6-dp rounding is bit-stable across engines regardless of
    * aggregation order.
    *
    * Plan shape: one groupBy(source) count (map-side combined), then
    * all downstream work runs on the per-source counts frame — tiny
    * relative to the corpus even at millions of domains. The top-5 draw
    * is orderBy+limit (TakeOrderedAndProject: per-partition 5-heaps, one
    * 5-row driver merge — never a global sort), folded back via 1-row
    * broadcasts.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val counts = Materialize(docs
      .groupBy(col("source"))
      .agg(count(lit(1)).alias("n")))
    val top5 = counts.orderBy(col("n").desc, col("source")).limit(5)
      .agg(
        sum(col("n")).alias("top5_docs"),
        // min over (-n, source): largest count first, then SMALLEST name
        // on ties — max(struct(n, source)) would tie-break to the largest
        // name, which is the wrong determinism contract.
        min(struct((-col("n")).alias("neg_n"), col("source")))
          .alias("top"))
    val totals = counts.agg(
      sum(col("n")).alias("n_docs"),
      count(lit(1)).cast("int").alias("n_sources"),
      sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
        .alias("sq"))
    val nd = col("n_docs").cast("double")
    val hhi = round(col("sq").cast("double") / (nd * nd), 6)
    totals.crossJoin(broadcast(top5))
      .select(
        col("n_docs"),
        col("n_sources"),
        col("top.source").alias("top_source"),
        (-col("top.neg_n")).alias("top_source_docs"),
        round((-col("top.neg_n")).cast("double") / nd, 6).alias("top_share"),
        round(col("top5_docs").cast("double") / nd, 6).alias("top5_share"),
        hhi.alias("hhi"),
        round(lit(1.0) / hhi, 6).alias("eff_sources"))
  }

  /** Snapshot DIFF — the change audit between two ingests of the same
    * corpus (the "what moved since last crawl" report a pipeline runs
    * before re-training): per document id, `added` (new only), `removed`
    * (old only), `changed` (both, different content), or `unchanged`.
    * Content compares by sha-256 so the FULL OUTER join's Exchanges carry
    * (doc_id, 32-byte digest), never text — the [[Dedup.incrementalExact]]
    * discipline; at two 100 TB snapshots the join is the only wide stage
    * and both sides shuffle fixed-width rows.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def hashed(df: DataFrame, as: String) = df.select(
      col("doc_id"),
      sha2(coalesce(col("text"), lit("")), 256).alias(as))
    hashed(oldSnap, "oh")
      .join(hashed(newSnap, "nh"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") === col("nh"), "unchanged")
          .otherwise("changed").alias("status"))
  }

  /** One-row rollup of [[snapshotDiff]]: per-status counts, both snapshot
    * sizes (derived from the statuses — no extra scan), and the churn
    * share relative to the new snapshot. Conditional aggregation over the
    * diff — exact integers, one rounded division. */
  def snapshotDiffReport(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def n(s: String) =
      sum(when(col("status") === s, 1L).otherwise(0L)).alias(s"n_$s")
    snapshotDiff(oldSnap, newSnap)
      .agg(n("added"), n("removed"), n("changed"), n("unchanged"))
      .select(
        (col("n_removed") + col("n_changed") + col("n_unchanged"))
          .alias("n_old"),
        (col("n_added") + col("n_changed") + col("n_unchanged"))
          .alias("n_new"),
        col("n_added"), col("n_removed"), col("n_changed"),
        col("n_unchanged"),
        round((col("n_added") + col("n_removed") + col("n_changed"))
          .cast("double") /
          greatest(col("n_added") + col("n_changed") + col("n_unchanged"),
            lit(1L)), 6).alias("churn_share"))
  }

  /** FUZZY decontamination: corpus documents that are NEAR-duplicates of a
    * benchmark document — the screen exact n-gram [[contamination]] cannot
    * see (a paraphrased or lightly-edited eval question shares few exact
    * rare grams but a high MinHash similarity; LLM eval cards routinely
    * report both exact and fuzzy decontamination for this reason). Built
    * from the engine's own cross-corpus machinery
    * ([[Dedup.crossCorpusCandidates]]): candidates only from (band,
    * bucket) collisions ACROSS the sides, estimated once per distinct
    * pair, thresholded — never an all-pairs product, and hot buckets land
    * on AQE's skew split (runtime-demonstrated, `PlanEvidenceSpec`).
    *
    * Emits one row per CORPUS document: `(doc_id, contaminated,
    * n_matches, max_est_sim)` — the flag face, so the caller chooses drop
    * vs quarantine; `max_est_sim` is an exact multiple of 1/k, bit-stable
    * cross-engine.
    */
  def contaminationNearDup(
      corpus: DataFrame,
      benchmark: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val flags = Dedup
      .crossCorpusCandidates(corpus, benchmark, k, bands, threshold)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).alias("n_matches"),
        max(col("est_sim")).alias("max_est_sim"))
      .withColumnRenamed("new_id", "doc_id")
    corpus.select(col("doc_id")).join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("max_est_sim").isNotNull.alias("contaminated"),
        coalesce(col("n_matches"), lit(0L)).alias("n_matches"),
        col("max_est_sim"))
  }

  /** EXACT decontamination certificate: per corpus doc, whether ANY
    * benchmark doc sits at shingle Jaccard ≥ `threshold` — computed by
    * the provably-complete cross-corpus prefix-filter join
    * ([[graft.ops.Dedup.setSimJoinCross]]), so a `contaminated = false`
    * row is a GUARANTEE, not an LSH probability. This is the release
    * auditor's face; [[contaminationNearDup]] stays the cheap screen run
    * every snapshot. Flags aggregate from the (sparse) match pairs and
    * left-join back onto the corpus id column — corpus text never
    * shuffles.
    */
  def contaminationSetSim(
      corpus: DataFrame,
      benchmark: DataFrame,
      threshold: Double = Dedup.SetSimThreshold): DataFrame = {
    val flags = Dedup.setSimJoinCross(corpus, benchmark, threshold)
      .groupBy(col("left_id"))
      .agg(count(lit(1)).alias("n_matches"),
        max(col("jaccard")).alias("max_jaccard"))
      .withColumnRenamed("left_id", "doc_id")
    corpus.select(col("doc_id")).join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("max_jaccard").isNotNull.alias("contaminated"),
        coalesce(col("n_matches"), lit(0L)).alias("n_matches"),
        col("max_jaccard"))
  }

  /** Uniform-mixture weight for [[tokenDrift]]'s Jelinek-Mercer smoothing:
    * p̂ = (1−λ)·ML + λ·uniform. Interpolation, NOT add-one: additive
    * smoothing's per-bucket pseudo-count mass scales with B/N, so a small
    * val slice (N ≪ B) gets a totally different smoothing dilution than
    * the big train slice and identical TRUE distributions read as large
    * divergence — the metric alarms on slice SIZE, not drift. With a
    * fixed λ both slices carry the same uniform component and identical
    * ML distributions give exactly 0.
    */
  val DriftUniformMix = 0.01

  /** Token-distribution DRIFT between the train and val splits: KL and
    * Jensen-Shannon divergence over Jelinek-Mercer-smoothed hashed-gram
    * bucket distributions (see [[DriftUniformMix]]) — the monitor an
    * ingest pipeline alarms on (a snapshot whose val slice stops
    * resembling train means the source mix moved; an honest random split
    * reads ~0). Same [[DsirBuckets]] hashing-trick bound as DSIR: the
    * distribution tables never exceed the bucket count at any corpus
    * size.
    *
    * Buckets unseen by BOTH slices sit at the shared uniform floor λ/B on
    * each side, so their KL/JS contribution is exactly zero and the sum
    * over PRESENT buckets is the exact divergence — no tail correction.
    * One scan (split verdict inlined as a pure doc_id column), one ≤B-row
    * groupBy; 6-dp rounded. Emits ONE row: bucket coverage, token totals,
    * kl_val_train, js.
    */
  def tokenDrift(docs: DataFrame, buckets: Int = DsirBuckets): DataFrame = {
    val lam = DriftUniformMix
    val toks = docs
      .select(splitColumn().alias("split"),
        explode(Dedup.tokens(col("text"))).alias("w"))
      .where(col("split").isin("train", "val"))
      .select(col("split"),
        pmod(Dedup.hashAt(0, col("w")), lit(buckets)).alias("b"))
    val counts = toks.groupBy(col("b")).agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).alias("ctr"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).alias("cva"))
    val tot = counts.agg(
      sum(col("ctr")).alias("ntr"), sum(col("cva")).alias("nva"),
      count(lit(1)).alias("seen"))
    // Literal arithmetic staged EXACTLY as the oracle writes it: ML share
    // times (1−λ) plus the λ/B floor, so both engines hit the same
    // double at every step.
    val pv = col("cva").cast("double") / greatest(col("nva"), lit(1L)) *
      (1 - lam) + lam / buckets
    val pt = col("ctr").cast("double") / greatest(col("ntr"), lit(1L)) *
      (1 - lam) + lam / buckets
    val m = (pv + pt) / 2
    counts.crossJoin(broadcast(tot))
      .agg(
        sum(pv * log10(pv / pt)).alias("klp"),
        sum(pv * log10(pv / m) * 0.5 + pt * log10(pt / m) * 0.5).alias("jsp"),
        first(col("seen")).alias("seen"),
        first(col("ntr")).alias("ntr"),
        first(col("nva")).alias("nva"))
      .select(
        col("seen").cast("int").alias("n_buckets_seen"),
        col("ntr").cast("long").alias("train_tokens"),
        col("nva").cast("long").alias("val_tokens"),
        round(col("klp"), 6).alias("kl_val_train"),
        round(col("jsp"), 6).alias("js"))
  }

  /** One-row corpus dashboard: the first query anyone runs against a new
    * snapshot — document count, empty share, char/token totals, distinct
    * vocabulary, mean document length. Two 1-row aggregates (doc-level
    * scan; vocabulary countDistinct over the exploded token stream — the
    * only corpus-scale shuffle, map-side combined) joined by 1-row
    * broadcast. Every number exact; the mean 6-dp rounded.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val t = Dedup.tokens(col("text"))
    val docAgg = docs.agg(
      count(lit(1)).alias("n_docs"),
      sum(when(coalesce(length(col("text")), lit(0)) === 0, 1L).otherwise(0L))
        .alias("n_empty"),
      sum(coalesce(length(col("text")), lit(0)).cast("long"))
        .alias("total_chars"),
      sum(size(t).cast("long")).alias("total_tokens"))
    val termAgg = docs.select(explode(t).alias("w"))
      .agg(countDistinct(col("w")).alias("distinct_terms"))
    docAgg.crossJoin(broadcast(termAgg)).select(
      col("n_docs"), col("n_empty"), col("total_chars"),
      col("total_tokens"), col("distinct_terms"),
      round(col("total_tokens").cast("double") /
        greatest(col("n_docs"), lit(1L)), 6).alias("avg_doc_tokens"))
  }

  /** Sequence-length histogram: documents binned by power-of-two BPE-ish
    * token count — the context-length distribution report every
    * pretraining run reads before choosing sequence length and packing
    * budget (how much of the corpus is short-tail, what fraction of
    * tokens live in docs longer than the window). Bucket k holds lengths
    * [2^(k−1), 2^k−1]; empty docs land in bucket 0.
    *
    * The bucket is computed INTEGER-wise as the bit-length of the count
    * (`length(bin(n))`) — a float `floor(log2(n))` would sit exactly on
    * the bin boundary at every power of two, where cross-engine libm ulps
    * flip bins. One scan projection + a ≤40-row groupBy; nothing else.
    */
  def lengthHistogram(docs: DataFrame): DataFrame = {
    val bpeish = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    val n = coalesce(regexp_count(col("text"), lit(bpeish)), lit(0))
    val bucket = when(col("n") === 0, lit(0))
      .otherwise(length(bin(col("n").cast("long"))))
    val lo = when(col("bucket") === 0, lit(0L))
      .otherwise(pow(lit(2.0), col("bucket") - 1).cast("long"))
    val hi = when(col("bucket") === 0, lit(0L))
      .otherwise(pow(lit(2.0), col("bucket")).cast("long") - 1)
    docs.select(n.alias("n"))
      .select(col("n"), bucket.alias("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("n")).cast("long").alias("total_tokens"))
      .select(col("bucket").cast("int").alias("bucket"),
        lo.alias("len_lo"), hi.alias("len_hi"),
        col("n_docs"), col("total_tokens"))
  }

  /** Drift-alarm cut for [[corpusReport]]: an order of magnitude above the
    * measured random-split JS noise floor (~0.0013 at sf0.01) — a snapshot
    * whose val slice drifts past this is flagged, an honest re-split is
    * not. */
  val DriftJsAlarm = 0.01

  /** Long-document cut for [[corpusReport]]'s token-share summary:
    * histogram buckets ≥ 11 hold documents of ≥ 1024 BPE-ish tokens (the
    * common training context length). */
  val LongDocBucket = 11

  /** ONE-row snapshot report — the "did this corpus change under me"
    * check a data engineer schedules per ingest: the [[corpusStats]]
    * dashboard row joined with the [[tokenDrift]] verdict (`drift_ok` at
    * the documented [[DriftJsAlarm]]) and two [[lengthHistogram]]
    * summaries (modal length bucket, share of tokens in ≥ 1024-token
    * documents — the packing-budget signal).
    *
    * Composition shape: three independent corpus passes (doc stats,
    * drift histogram, length histogram — each already scale-audited on
    * its own) reduced to 1-row / ≤40-row frames, then broadcast
    * cross-joined. The histogram is materialized once and feeds both of
    * its summaries.
    */
  def corpusReport(docs: DataFrame): DataFrame = {
    val stats = corpusStats(docs)
    val drift = tokenDrift(docs).select(
      col("kl_val_train"), col("js"),
      (col("js") <= DriftJsAlarm).alias("drift_ok"))
    val hist = Materialize(lengthHistogram(docs))
    val modal = hist.orderBy(col("n_docs").desc, col("bucket")).limit(1)
      .select(col("bucket").alias("modal_bucket"))
    val longShare = hist.agg(
      round(sum(when(col("bucket") >= LongDocBucket, col("total_tokens"))
        .otherwise(0L)).cast("double") /
        greatest(sum(col("total_tokens")), lit(1L)), 6)
        .alias("long_doc_token_share"))
    stats.crossJoin(broadcast(drift)).crossJoin(broadcast(modal))
      .crossJoin(broadcast(longShare))
  }

  /** Hashed-gram buckets for DSIR importance weighting. 4096 keeps the two
    * distribution tables a few-KB broadcast at ANY corpus size — the
    * bucket count, not the corpus, bounds them (the hashing trick's whole
    * point, per the fastText scorer).
    */
  val DsirBuckets = 4096

  /** DSIR importance weight per document — Data Selection via Importance
    * Resampling (Xie et al. 2023, arXiv:2302.03169): score each raw
    * document by how much more likely its hashed-n-gram bag is under a
    * TARGET distribution than under the RAW corpus distribution,
    * `avg over tokens of log10(p_target(bucket) / p_raw(bucket))`, add-one
    * smoothed. The target here is the corpus's own quality-gated subset —
    * the same distillation trick as the trained classifier: rules define
    * "good", DSIR generalizes it distributionally. Positive weight ⇒ looks
    * more like curated text than the raw average; the standard
    * pick-pretraining-data-to-match-a-domain signal.
    *
    * Scale shape: ONE corpus scan builds BOTH bucket histograms — a single
    * `groupBy(b)` with a conditional sum for the gate-passing side (the
    * [[tokenDrift]] pattern; Spark does not share common subplans, so
    * separate raw/target/totals subtrees would each replay the token
    * explode). The ≤ [[DsirBuckets]]-row result is collected driver-side
    * (bounded by construction, unlike a vocabulary — the same
    * `require`-guarded posture as the BPE top-V collect), totals are
    * summed in Scala, and the scoring pass joins the broadcast histogram
    * map-side against a SECOND token scan: two corpus scans total, with
    * the histogram memoized per (input plan, buckets) so the selection
    * query composing this one pays it once per process (the train-once
    * contract of [[QualityModel.train]]). Per-doc mean keeps the weight
    * length-comparable, 6-dp rounded for the oracle.
    *
    * Emits `(doc_id, n_tokens, dsir_logratio)`; null ratio, 0 tokens for
    * empty docs (row kept, the engine-wide contract).
    */
  def dsirWeights(docs: DataFrame, buckets: Int = DsirBuckets): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (hist, nr, nt) = dsirHistogram(docs, buckets)
    val histDf = hist.toDF("b", "cr", "ct")
    val scored = dsirTokens(docs, buckets)
      .join(broadcast(histDf), "b")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").alias("n_tokens"),
        // + 0.0 collapses IEEE negative zero: a document whose mean
        // log-ratio rounds to -0.0 would otherwise stringify/hash as
        // "-0.0" on one engine and "0.0" on the other (surfaced at the
        // sf0.1 verify point; the oracle applies the same normalizer).
        (round(avg(
          log10((col("ct") + 1).cast("double") / lit(nt + buckets)) -
            log10((col("cr") + 1).cast("double") / lit(nr + buckets))),
          6) + lit(0.0)).alias("dsir_logratio"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0)).alias("n_tokens"),
        col("dsir_logratio"))
  }

  /** The shared map-side DSIR token stream: `(doc_id, passed, b)` — one
    * hashed bucket per token with the quality-gate verdict inlined into
    * the same scan (joining [[TextAnalysis.qualityGate]] back by doc_id
    * would shuffle the whole token stream against a corpus-sized per-doc
    * table; inlined, `passed` is one more map-side column). */
  private def dsirTokens(docs: DataFrame, buckets: Int): DataFrame = {
    // Gate verdict inlined into the SAME scan as the token stream (the
    // QualityModel.features trick): joining TextAnalysis.qualityGate back
    // by doc_id would shuffle the whole token stream against a
    // corpus-sized per-doc table — inlining makes `passed` one more
    // map-side column and the scan happens once.
    val stopwords = TextAnalysis.LangMarkers.flatMap(_._2)
    val nChars = length(col("text"))
    val nToks = size(col("toks"))
    val stopR = round(
      graft.functions.CountInSet.countInSet(col("toks"), stopwords)
        .cast("double") / greatest(nToks, lit(1)), 6)
    val punctR = round(
      (nChars - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast("double") / greatest(nChars, lit(1)), 6)
    val cpt = nChars.cast("double") / greatest(nToks, lit(1))
    val passed =
      nChars >= TextAnalysis.GateMinChars &&
        nToks >= TextAnalysis.GateMinTokens &&
        stopR <= TextAnalysis.GateMaxStopwordRatio &&
        punctR <= TextAnalysis.GateMaxPunctRatio &&
        cpt <= TextAnalysis.GateMaxCharsPerToken
    docs
      .select(col("doc_id"), col("text"), Dedup.tokens(col("text")).alias("toks"))
      .select(col("doc_id"), passed.alias("passed"),
        explode(col("toks")).alias("w"))
      .select(col("doc_id"), col("passed"),
        pmod(Dedup.hashAt(0, col("w")), lit(buckets)).alias("b"))
  }

  /** Test hook: number of actual (non-memoized) histogram builds. */
  val dsirHistExecutions = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Test hook: drop memoized DSIR histograms. */
  def clearDsirMemo(): Unit = dsirHistMemo.clear()

  // Same key discipline and bound as QualityModel.weightMemo: canonicalized
  // PLAN OBJECT (structural equality covers LocalRelation data), small
  // access-order LRU so retained plan trees stay bounded.
  private val DsirMemoCap = 8
  private val dsirHistMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
      (Seq[(Long, Long, Long)], Long, Long)](DsirMemoCap, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
        (Seq[(Long, Long, Long)], Long, Long)]): Boolean = size() > DsirMemoCap
    })

  /** Both DSIR bucket histograms in ONE corpus scan: `(b, cr, ct)` rows
    * (raw count + conditional gate-passing count per bucket) collected
    * driver-side plus the two totals, memoized per (canonicalized input
    * plan, buckets). The collect is ≤ `buckets` rows by construction —
    * the histogram is bounded by the hash range, not the corpus. Sound to
    * memoize for the same reason as [[QualityModel.train]]: a pure
    * deterministic function of (input data, buckets), keyed by the
    * canonicalized plan. */
  private def dsirHistogram(
      docs: DataFrame, buckets: Int): (Seq[(Long, Long, Long)], Long, Long) = {
    require(buckets > 0 && buckets <= (1 << 20),
      s"bucket count must be in (0, 2^20] so the histogram collect stays " +
        s"bounded, got $buckets")
    val key = (docs.queryExecution.analyzed.canonicalized, buckets)
    dsirHistMemo.computeIfAbsent(key, _ => {
      dsirHistExecutions.incrementAndGet()
      val rows = dsirTokens(docs, buckets)
        .groupBy(col("b"))
        .agg(count(lit(1)).alias("cr"),
          sum(when(col("passed"), 1L).otherwise(0L)).alias("ct"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      (rows, rows.map(_._2).sum, rows.map(_._3).sum)
    })
  }

  /** DSIR-ranked selection: the top-k most target-like documents by
    * [[dsirWeights]], doc_id tie-break — the deterministic face of DSIR's
    * resampling step (rank-select rather than a float-sensitive
    * exponential draw, so the cut is bit-stable cross-engine). Plans as
    * TakeOrderedAndProject like [[sampleWeighted]]: per-partition k-heaps,
    * one k-row driver merge, the corpus never globally sorts.
    */
  def selectByDsir(
      docs: DataFrame,
      k: Int = 50,
      buckets: Int = DsirBuckets): DataFrame = {
    require(k > 0, s"selection size must be positive, got $k")
    dsirWeights(docs, buckets)
      .where(col("dsir_logratio").isNotNull)
      .orderBy(col("dsir_logratio").desc, col("doc_id"))
      .limit(k)
  }
}
