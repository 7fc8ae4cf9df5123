package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** Corpus-curation family: sampling/split/shuffle/mix/pack/chunk, decontamination, DSIR, BPE training, drift, stats, and the report composites.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesCorpus {

  private def corpusCurate(s: SparkSession, dir: String): DataFrame =
    Curation.curate(StandIn.documents(s, dir),
      MinhashK, MinhashBands, MinhashEstThreshold)

  // DuckDB twins of ops/Dedup.scala's hash family and tokenizer — keep in
  // lockstep with Dedup.tokens / Dedup.hashAt / Dedup.minhashSignature.
  // coalesce(text, ''): NULL text ≡ empty document on both engines (the
  // Dedup.tokens contract) — without it DuckDB propagates NULL token lists
  // where Spark now yields [].

  // Training-mix rates shared by the sampler query and its oracle CASE.
  private val SampleRates = Seq("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25)

  private val SampleDefaultRate = 0.1

  private def corpusSample(s: SparkSession, dir: String): DataFrame =
    Curation.sampleByLanguage(StandIn.documents(s, dir),
      SampleRates.toMap, SampleDefaultRate)

  // Bloom-prefiltered decontamination: identical output (the Bloom filter
  // only prunes the shuffle; false positives die in the exact join), so it
  // shares decontaminate's oracle SQL verbatim.
  private def decontaminateBloom(s: SparkSession, dir: String): DataFrame =
    Curation.contaminationBloom(StandIn.documents(s, dir),
      col("doc_id") % 10 === 0, minShared = 3, dfCap = 20)

  // Split fractions shared with the oracle twin (integer bucket bounds).
  private val SplitFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Synthetic "next ingest" snapshot for the diff twins: documents with
    * doc_id % 7 = 0 dropped (removed), % 7 = 1 edited (changed), % 7 = 3
    * re-added under shifted ids (added) — every status class populated
    * from the one fixture. Mirrored by [[snapshotNewSql]]. */
  private def snapshotNew(s: SparkSession, dir: String): DataFrame = {
    val docs = StandIn.documents(s, dir)
    docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 1, concat(coalesce(col("text"), lit("")),
          lit(" v2"))).otherwise(col("text")).alias("text"))
      .unionAll(docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 1000000L).alias("doc_id"), col("text")))
  }

  /** Diff CTEs shared by the detail and report twins — ends at
    * `dj(doc_id, status)`; content compared on the raw text where the
    * engine compares sha-256 digests (equality-identical short of a
    * collision). */
  private val snapshotDiffCtesSql =
    """WITH oldt AS (
      |  SELECT doc_id, coalesce(text, '') AS t FROM documents
      |), newt AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 1 THEN coalesce(text, '') || ' v2'
      |              ELSE coalesce(text, '') END AS t
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, coalesce(text, '')
      |  FROM documents WHERE doc_id % 7 = 3
      |), dj AS MATERIALIZED (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |         CASE WHEN o.doc_id IS NULL THEN 'added'
      |              WHEN n.doc_id IS NULL THEN 'removed'
      |              WHEN o.t = n.t THEN 'unchanged'
      |              ELSE 'changed' END AS status
      |  FROM oldt o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id
      |)""".stripMargin

  /** Leakage-screen CTEs shared by the detail and report twins: inlined
    * split CASE → per-doc distinct 8-gram lists → train gram vocabulary →
    * per-val-doc overlap counts, ending at `ldet(doc_id, n_grams,
    * n_leaked, d_share)`. */
  private val leakageCtesSql = {
    val n = Curation.LeakGramN
    val bounds = Curation.splitBounds(SplitFractions)
    val cases = SplitFractions.init.zip(bounds.init)
      .map { case ((name, _), cut) => s"WHEN b < $cut THEN '$name'" }
      .mkString(" ")
    s"""WITH lt AS (
       |  SELECT doc_id,
       |         CASE $cases ELSE '${SplitFractions.last._1}' END AS split,
       |         list_filter(string_split_regex(lower(coalesce(text, '')),
       |           '\\s+'), w -> len(w) > 0) AS t
       |  FROM (SELECT doc_id, text,
       |          ${hashSql(s"'${Curation.SplitHashIndex}:'",
                    "CAST(doc_id AS VARCHAR)")} % 10000 AS b
       |        FROM documents) q
       |), lgr AS MATERIALIZED (
       |  SELECT doc_id, split,
       |         CASE WHEN len(t) >= $n THEN list_distinct(
       |           list_transform(range(1, len(t) - ${n - 2}),
       |             i -> array_to_string(
       |               t[CAST(i AS INT):CAST(i + ${n - 1} AS INT)], ' ')))
       |         ELSE [] END AS gs
       |  FROM lt
       |), ltg AS MATERIALIZED (
       |  SELECT DISTINCT u.g FROM lgr, unnest(gs) AS u(g)
       |  WHERE split = 'train'
       |), lvg AS MATERIALIZED (
       |  SELECT doc_id, len(gs) AS n_grams, gs FROM lgr WHERE split = 'val'
       |), lvx AS (
       |  SELECT doc_id, u.g FROM lvg, unnest(gs) AS u(g)
       |), lvc AS (
       |  SELECT x.doc_id, count(t.g) AS n_leaked
       |  FROM lvx x LEFT JOIN ltg t USING (g) GROUP BY x.doc_id
       |), ldet AS MATERIALIZED (
       |  SELECT v.doc_id,
       |         CAST(v.n_grams AS INT) AS n_grams,
       |         CAST(coalesce(c.n_leaked, 0) AS BIGINT) AS n_leaked,
       |         round(coalesce(c.n_leaked, 0)
       |           / CAST(greatest(v.n_grams, 1) AS DOUBLE), 6) AS d_share
       |  FROM lvg v LEFT JOIN lvc c USING (doc_id)
       |)""".stripMargin
  }

  private def corpusSplit(s: SparkSession, dir: String): DataFrame =
    Curation.assignSplits(StandIn.documents(s, dir), SplitFractions)

  private val ShuffleShards = 16

  private def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    Curation.shuffleShards(StandIn.documents(s, dir), ShuffleShards)

  // Per-language token targets shared with the oracle twin: sized against
  // the fixture's per-language token mass so the mix exercises both >1
  // whole epochs and a fractional remainder.
  private val MixTargets =
    Seq("en" -> 50000L, "fr" -> 12000L, "de" -> 4000L)

  private def corpusMix(s: SparkSession, dir: String): DataFrame =
    Curation.mixEpochs(StandIn.documents(s, dir), MixTargets.toMap)

  // Packing parameters shared with the oracle twin.
  private val PackBudget = 2048

  private val PackBuckets = 8

  // ─── DuckDB twins of ops/Bpe.scala ────────────────────────────────────
  // Merge application replayed as space-delimited string replace: word →
  // ' c h a r s ', each merge (a,b) → replace(' a b ', ' ab ') — replace's
  // left-to-right non-overlapping scan IS BpeMerge.mergeOnce's semantics.

  /** Chain of `replace` calls applying [[Bpe.FixedMerges]] in table order
    * to a spaced symbol string. */

  /** BPE chunk budget shared with the corpus_chunk_bpe twin. */
  private val ChunkBpeBudget = 64

  /** Per-document BPE token count under the fixed table (Bpe.tokenCounts):
    * sum of per-word symbol counts, 0 for wordless documents. */

  private val bpeTrainOracle = {
    val sel = (1 to Bpe.NumMerges).map { r =>
      s"""SELECT $r AS rank, (SELECT a FROM best$r) AS pair_a,
         |  (SELECT b FROM best$r) AS pair_b,
         |  (SELECT a || b FROM best$r) AS merged,
         |  (SELECT CAST(pc AS BIGINT) FROM best$r) AS pair_count""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$bpeTrainChainSql\n$sel"
  }

  private val bpeBytesTrainOracle = {
    val sel = (1 to Bpe.NumMerges).map { r =>
      s"""SELECT $r AS rank, (SELECT a FROM bbest$r) AS pair_a,
         |  (SELECT b FROM bbest$r) AS pair_b,
         |  (SELECT a || b FROM bbest$r) AS merged,
         |  (SELECT CAST(pc AS BIGINT) FROM bbest$r) AS pair_count"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"$bpeBytesTrainChainSql\n$sel"
  }

  /** Trained-table encode twin: the training chain's learned pairs land in
    * ONE `bests` row (a1..b${Bpe.NumMerges}); every document cross-joins
    * that row and the replace chain references its columns from inside the
    * per-word lambda — training AND encoding replayed in one statement. */

  // Chunking parameters shared with the oracle twin.
  private val ChunkSize = 64

  private val ChunkStride = 48

  private def corpusPack(s: SparkSession, dir: String): DataFrame =
    Curation.packSequences(StandIn.documents(s, dir), PackBudget, PackBuckets)

  // DuckDB twins of ops/Similarity.scala. `list_reduce` folds left like
  // Spark's `aggregate`, so double summation order (and thus bits) match.

  // Corpus-dashboard CTE fragments (need `toks` in scope) — shared by the
  // standalone twins and the corpus_report composite so they cannot drift.
  private lazy val corpusStatsCtesSql =
    """csd AS (
      |  SELECT count(*) AS n_docs,
      |         sum(CASE WHEN coalesce(length(text), 0) = 0
      |                  THEN 1 ELSE 0 END) AS n_empty,
      |         sum(coalesce(length(text), 0)) AS total_chars
      |  FROM documents
      |), cst AS (
      |  SELECT sum(len(t)) AS total_tokens FROM toks
      |), csv AS (
      |  SELECT count(DISTINCT w) AS distinct_terms
      |  FROM (SELECT unnest(t) AS w FROM toks)
      |)""".stripMargin

  // Train/val drift chain (Curation.tokenDrift twin): hashed buckets per
  // split, conditional histogram, Jelinek-Mercer smoothing, KL + JS sums
  // exposed via dfa (klp, jsp) and dft (ntr, nva, seen).
  private lazy val driftCtesSql = {
    val B = Curation.DsirBuckets
    val lam = Curation.DriftUniformMix
    val oneMinus = s"CAST(${1 - lam} AS DOUBLE)"
    val floorMass = s"CAST(${lam / B} AS DOUBLE)"
    val bounds = Curation.splitBounds(SplitFractions)
    val cases = SplitFractions.init.zip(bounds.init)
      .map { case ((name, _), cut) => s"WHEN sb < $cut THEN '$name'" }
      .mkString(" ")
    s"""dfx AS (
       |  SELECT doc_id, unnest(t) AS w FROM toks
       |), dfs AS (
       |  SELECT CASE $cases ELSE '${SplitFractions.last._1}' END AS split,
       |         ${hashSql("'0:'")} % $B AS b
       |  FROM (
       |    SELECT doc_id, w,
       |           ${hashSql(s"'${Curation.SplitHashIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} % 10000 AS sb
       |    FROM dfx
       |  )
       |), dfc AS (
       |  SELECT b,
       |         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ctr,
       |         sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cva
       |  FROM dfs WHERE split IN ('train', 'val') GROUP BY b
       |), dft AS (
       |  SELECT sum(ctr) AS ntr, sum(cva) AS nva, count(*) AS seen FROM dfc
       |), dfp AS (
       |  SELECT CAST(cva AS DOUBLE) / greatest(nva, 1) * $oneMinus
       |           + $floorMass AS pv,
       |         CAST(ctr AS DOUBLE) / greatest(ntr, 1) * $oneMinus
       |           + $floorMass AS pt
       |  FROM dfc, dft
       |), dfa AS (
       |  SELECT sum(pv * log10(pv / pt)) AS klp,
       |         sum(pv * log10(pv / ((pv + pt) / 2)) * 0.5
       |             + pt * log10(pt / ((pv + pt) / 2)) * 0.5) AS jsp
       |  FROM dfp
       |)""".stripMargin
  }

  // Length-histogram chain (Curation.lengthHistogram twin) grouped into
  // lhg (bucket, n_docs, total_tokens).
  private lazy val lengthHistCtesSql =
    """lh AS (
      |  SELECT coalesce(len(regexp_extract_all(text,
      |           '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')), 0) AS n
      |  FROM documents
      |), lb AS (
      |  SELECT n, CASE WHEN n = 0 THEN 0
      |                 ELSE length(bin(CAST(n AS BIGINT))) END AS bucket
      |  FROM lh
      |), lhg AS (
      |  SELECT bucket, count(*) AS n_docs, sum(n) AS total_tokens
      |  FROM lb GROUP BY bucket
      |)""".stripMargin

  // Perceptual-hash oracle CTEs — MUST stay in lockstep with
  // Multimodal.phash. Integer luma of the formula pixel at (sx, sy),
  // as a SQL fragment (each channel mod-256, summed, //3 — the same
  // integer arithmetic the Scala stage runs on the DECODED pixels).

  // Shared by decontaminate / decontaminate_bloom: the Bloom variant's
  // output is exact, so one oracle serves both and they cannot drift.
  private val decontaminateOracle =
    s"""WITH $gramsSql, ex AS (
       |  SELECT doc_id, unnest(g) AS g FROM grams
       |), rare AS (
       |  SELECT g FROM (
       |    SELECT g, count(DISTINCT doc_id) AS gram_df FROM ex GROUP BY g
       |  ) WHERE gram_df <= 20
       |), rex AS (
       |  SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)
       |)
       |SELECT c.doc_id, b.doc_id AS bench_id,
       |       CAST(count(DISTINCT c.g) AS INT) AS shared_grams
       |FROM rex c
       |JOIN rex b ON c.g = b.g
       |WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
       |GROUP BY c.doc_id, b.doc_id
       |HAVING count(DISTINCT c.g) >= 3""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_curate"       -> ((s, d) => corpusCurate(s, d)),

    // END-TO-END pipeline funnel: encoding screen → gate → keepers →
    // per-source cap → split, per-stage survivor counts in ONE row; two
    // corpus scans total (Curation.curatePipeline scaladoc).
    "corpus_pipeline"     -> ((s, d) =>
      Curation.curatePipeline(StandIn.documents(s, d))),

    "corpus_sample"       -> ((s, d) => corpusSample(s, d)),

    "decontaminate"       -> ((s, d) => decontaminate(s, d)),

    "decontaminate_bloom" -> ((s, d) => decontaminateBloom(s, d)),

    // Fuzzy decontamination: near-dup screen of corpus vs the benchmark
    // split (doc_id % 10 = 0), flags not drops — the paraphrased-eval
    // leak exact grams miss (Curation.contaminationNearDup).
    "decontaminate_neardup" -> ((s, d) => {
      val docs = StandIn.documents(s, d)
      Curation.contaminationNearDup(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        MinhashK, MinhashBands, MinhashEstThreshold)
    }),

    // EXACT decontamination certificate: cross-corpus prefix-filter join —
    // contaminated=false rows are a guarantee, not an LSH probability
    // (Curation.contaminationSetSim / Dedup.setSimJoinCross).
    "decontaminate_setsim" -> ((s, d) => {
      val docs = StandIn.documents(s, d)
      Curation.contaminationSetSim(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0))
    }),

    // Contamination dashboard: exact / fuzzy / union flag counts in ONE
    // row (Curation.contaminationReport) - the eval-card figure.
    "corpus_contamination_report" -> ((s, d) =>
      Curation.contaminationReport(StandIn.documents(s, d),
        col("doc_id") % 10 === 0, minShared = 3, dfCap = 20,
        MinhashK, MinhashBands, MinhashEstThreshold)),

    "corpus_pack"         -> ((s, d) => corpusPack(s, d)),

    // Packing-efficiency headline: fill rate vs the budget + overflow
    // share in ONE row (Curation.packEfficiency over the same layout).
    "corpus_pack_efficiency" -> ((s, d) =>
      Curation.packEfficiency(StandIn.documents(s, d),
        PackBudget, PackBuckets)),

    "corpus_bpe_train"    -> ((s, d) =>
      Bpe.trainTable(s, StandIn.documents(s, d))),

    "corpus_bpe_train_dist" -> ((s, d) =>
      Bpe.trainTableDistributed(s, StandIn.documents(s, d))),

    // Byte-level (GPT-2) BPE training: same driver merge loop over
    // byte-mapped pretokens (Bpe.trainBytes scaladoc; space ⇒ Ġ, merges
    // may absorb it — the byte-level signature).
    "corpus_bpe_bytes_train" -> ((s, d) =>
      Bpe.trainBytesTable(s, StandIn.documents(s, d))),

    "corpus_bpe_bytes_train_dist" -> ((s, d) =>
      Bpe.trainBytesTableDistributed(s, StandIn.documents(s, d))),

    // Unigram-LM (SentencePiece) tokenizer training: hard-EM
    // segment/count/prune over the bounded top-V word table; integer
    // micro-nat scores so the Viterbi is exact cross-engine (Ulm.train
    // scaladoc has the design + 100 TB story).
    "corpus_ulm_train"    -> ((s, d) =>
      graft.ops.Ulm.trainTable(s, StandIn.documents(s, d))),

    // Same rules, word table NEVER collected: each EM round segments the
    // distributed word table with the codegen'd kernel; only vocab-bounded
    // aggregates reach the driver. SAME oracle as corpus_ulm_train.
    "corpus_ulm_train_dist" -> ((s, d) =>
      graft.ops.Ulm.trainTableDistributed(s, StandIn.documents(s, d))),

    "corpus_mix_bpe"      -> ((s, d) =>
      Bpe.mixEpochsBpe(StandIn.documents(s, d), MixTargets.toMap)),

    // Composition: trained quality scores as the A-ES sampling weight —
    // quality-proportional corpus draw (higher-scored docs more likely).
    "corpus_sample_quality" -> ((s, d) =>
      Curation.sampleWeighted(
        graft.ops.QualityModel.trainedScores(StandIn.documents(s, d))
          .select(col("doc_id"), col("score")),
        k = 50, weightCol = "score", seed = "graft-q1")),

    // ...and the deterministic selection face: top-k most target-like.
    "corpus_select_dsir"  -> ((s, d) =>
      Curation.selectByDsir(StandIn.documents(s, d))),

    "corpus_pack_bpe"     -> ((s, d) =>
      Bpe.packByBpe(StandIn.documents(s, d), Bpe.FixedMerges,
        PackBudget, PackBuckets)),

    "corpus_chunk_bpe"    -> ((s, d) =>
      Bpe.chunkByBpe(StandIn.documents(s, d), Bpe.FixedMerges,
        ChunkBpeBudget)),

    // Packing under the THIRD budget unit: unigram-LM Viterbi piece
    // counts (Ulm.packByUlm — completes whitespace/BPE/ULM pack parity).
    "corpus_pack_ulm"     -> ((s, d) =>
      graft.ops.Ulm.packByUlm(StandIn.documents(s, d),
        graft.ops.Ulm.FixedVocab, PackBudget, PackBuckets)),

    "corpus_split"        -> ((s, d) => corpusSplit(s, d)),

    // Train→val n-gram leakage screen: per-val-doc distinct 8-gram
    // overlap with ANY train doc — the split's own memorization audit
    // (Curation.splitLeakage; hash-only Exchanges, inlined split).
    "corpus_split_leakage" -> ((s, d) =>
      Curation.splitLeakage(StandIn.documents(s, d),
        fractions = SplitFractions)),

    // One-row rollup: totals, micro-averaged leak share (integer
    // division — no double-sum order hazard), worst doc, flagged count.
    "corpus_leakage_report" -> ((s, d) =>
      Curation.splitLeakageReport(StandIn.documents(s, d),
        fractions = SplitFractions)),

    "corpus_shuffle"      -> ((s, d) => corpusShuffle(s, d)),

    // Quality-annealed curriculum: tier by fixed score cutoffs, hash rank
    // within (tier, shard) — the "best data last" schedule
    // (Curation.curriculum).
    "corpus_curriculum"   -> ((s, d) =>
      Curation.curriculum(StandIn.documents(s, d))),

    // Snapshot diff: per-doc added/removed/changed/unchanged between two
    // ingests (old = fixture; new = drop %7=0, edit %7=1, add shifted
    // %7=3 — the same synthetic-snapshot trick as dedup_incremental).
    "corpus_snapshot_diff" -> ((s, d) =>
      Curation.snapshotDiff(StandIn.documents(s, d), snapshotNew(s, d))),

    // ...and its one-row rollup (sizes derived from statuses, churn).
    "corpus_diff_report"  -> ((s, d) =>
      Curation.snapshotDiffReport(StandIn.documents(s, d),
        snapshotNew(s, d))),

    "corpus_mix"          -> ((s, d) => corpusMix(s, d)),

    "corpus_sample_grouped" -> ((s, d) =>
      Curation.sampleGrouped(StandIn.documents(s, d))),

    // Per-source cap (RefinedWeb/FineWeb domain rule): ≤ 20 docs per
    // source, hash-rank survivors — the fixture's 25-per-source strata
    // make the cap bind (5 dropped from every source).
    "corpus_cap_source" -> ((s, d) =>
      Curation.capBySource(StandIn.documents(s, d))),

    // One-row source-concentration report (top shares, HHI).
    "corpus_source_mix" -> ((s, d) =>
      Curation.sourceMix(StandIn.documents(s, d))),

    // Dense global ids WITHOUT a single-partition window (bucketed
    // two-level ranking); oracle pins equality with the naive form.
    "corpus_assign_ids" -> ((s, d) =>
      Curation.assignStableIds(StandIn.documents(s, d))),

    "corpus_sample_weighted" -> ((s, d) =>
      Curation.sampleWeighted(StandIn.documents(s, d))),

    // Per-stratum weighted fixed-k: language quotas with in-quota length
    // bias — the sampler matrix's last cell (Curation.sampleGroupedWeighted).
    "corpus_sample_grouped_weighted" -> ((s, d) =>
      Curation.sampleGroupedWeighted(StandIn.documents(s, d))),

    "corpus_chunk"        -> ((s, d) =>
      Curation.chunkDocuments(StandIn.documents(s, d), ChunkSize, ChunkStride)),

    // Train/val token-distribution drift: smoothed KL + JS over hashed
    // buckets, unseen-bucket mass in closed form (Curation.tokenDrift).
    "corpus_token_drift"  -> ((s, d) =>
      Curation.tokenDrift(StandIn.documents(s, d))),

    // One-row snapshot dashboard (Curation.corpusStats).
    "corpus_stats"        -> ((s, d) =>
      Curation.corpusStats(StandIn.documents(s, d))),

    // Power-of-2 length-bucket padding report: per ⌊log2(tokens)⌋+1
    // bucket the tokens a pad-to-bucket-max batcher wastes — the data
    // loader's bucketing diagnostic (Curation.lengthBuckets; binary-
    // digit-count buckets keep the boundary off IEEE log ulps).
    "corpus_length_buckets" -> ((s, d) =>
      Curation.lengthBuckets(StandIn.documents(s, d))),

    // Snapshot-report composite: dashboard + drift verdict + length
    // summaries in ONE row (Curation.corpusReport).
    "corpus_report"       -> ((s, d) =>
      Curation.corpusReport(StandIn.documents(s, d))),

    // Deduplication dashboard: exact / near / line-level duplication of
    // the snapshot in ONE row (Curation.dedupReport) — each figure reuses
    // the operator behind its standalone query.
    "corpus_dedup_report" -> ((s, d) =>
      Curation.dedupReport(StandIn.documents(s, d),
        MinhashK, MinhashBands, MinhashEstThreshold)),

    // Context-length distribution: power-of-two bins by BPE-ish count,
    // integer bit-length binning (Curation.lengthHistogram).
    "corpus_length_histogram" -> ((s, d) =>
      Curation.lengthHistogram(StandIn.documents(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    // Fuzzy-decontamination twin (Curation.contaminationNearDup): the
    // cross-side candidate/estimate CTEs of dedup_incremental with the
    // % 10 benchmark split, folded to one flag row per corpus document.
    "decontaminate_neardup" ->
      s"""WITH $gramsSql, $sigSql, $bucketsSql, cpairs AS (
         |  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
         |  FROM buckets n
         |  JOIN buckets r ON n.band = r.band AND n.bucket = r.bucket
         |  WHERE n.doc_id % 10 <> 0 AND r.doc_id % 10 = 0
         |), cest AS (
         |  SELECT p.new_id,
         |         len(list_filter(range(1, ${MinhashK + 1}),
         |             i -> sn.sig[CAST(i AS INT)] = sr.sig[CAST(i AS INT)]))
         |           / CAST($MinhashK AS DOUBLE) AS est_sim
         |  FROM cpairs p
         |  JOIN sigs sn ON sn.doc_id = p.new_id
         |  JOIN sigs sr ON sr.doc_id = p.ref_id
         |), cfl AS (
         |  SELECT new_id AS doc_id, count(*) AS n_matches,
         |         max(est_sim) AS max_est_sim
         |  FROM cest WHERE est_sim >= $MinhashEstThreshold
         |  GROUP BY new_id
         |)
         |SELECT d.doc_id,
         |       cfl.max_est_sim IS NOT NULL AS contaminated,
         |       coalesce(cfl.n_matches, 0) AS n_matches,
         |       cfl.max_est_sim
         |FROM documents d LEFT JOIN cfl USING (doc_id)
         |WHERE d.doc_id % 10 <> 0""".stripMargin,

    // Contamination-dashboard twin: the decontaminate + neardup CTEs
    // (same thresholds as the standalone twins) folded to one count row.
    "corpus_contamination_report" ->
      s"""WITH $gramsSql, $sigSql, $bucketsSql, ex AS (
         |  SELECT doc_id, unnest(g) AS g FROM grams
         |), rare AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS gram_df FROM ex GROUP BY g
         |  ) WHERE gram_df <= 20
         |), rex AS (
         |  SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)
         |), exact_ids AS (
         |  SELECT DISTINCT c.doc_id FROM rex c
         |  JOIN rex b ON c.g = b.g
         |  WHERE c.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
         |  GROUP BY c.doc_id, b.doc_id
         |  HAVING count(DISTINCT c.g) >= 3
         |), cpairs AS (
         |  SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
         |  FROM buckets n
         |  JOIN buckets r ON n.band = r.band AND n.bucket = r.bucket
         |  WHERE n.doc_id % 10 <> 0 AND r.doc_id % 10 = 0
         |), fuzzy_ids AS (
         |  SELECT DISTINCT p.new_id AS doc_id
         |  FROM cpairs p
         |  JOIN sigs sn ON sn.doc_id = p.new_id
         |  JOIN sigs sr ON sr.doc_id = p.ref_id
         |  WHERE len(list_filter(range(1, ${MinhashK + 1}),
         |          i -> sn.sig[CAST(i AS INT)] = sr.sig[CAST(i AS INT)]))
         |          / CAST($MinhashK AS DOUBLE) >= $MinhashEstThreshold
         |), ccounts AS (
         |  SELECT CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_bench,
         |         CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END)
         |           AS BIGINT) AS n_corpus
         |  FROM documents
         |)
         |SELECT n_corpus, n_bench,
         |       (SELECT count(*) FROM exact_ids) AS exact_flagged,
         |       (SELECT count(*) FROM fuzzy_ids) AS fuzzy_flagged,
         |       (SELECT count(*) FROM
         |          (SELECT doc_id FROM exact_ids
         |           UNION SELECT doc_id FROM fuzzy_ids)) AS either_flagged,
         |       round((SELECT count(*) FROM
         |          (SELECT doc_id FROM exact_ids
         |           UNION SELECT doc_id FROM fuzzy_ids))
         |          / CAST(greatest(n_corpus, 1) AS DOUBLE), 6)
         |         AS flagged_share
         |FROM ccounts""".stripMargin,

    // The full curation composite: clusters (recursive CTE) + quality gate
    // + language scores + token counts, all sharing one `toks` CTE.
    "corpus_curate" ->
      s"""WITH RECURSIVE $gramsSql, $sigSql, $bucketsSql, $candidatePairsSql,
         |$componentsSql, $rawToksSql, $gateSql, scored AS (
         |  SELECT doc_id,
         |$langScoresSql
         |  FROM toks
         |), best AS (
         |  SELECT *, greatest(en_score, fr_score, de_score) AS top FROM scored
         |)
         |SELECT d.doc_id,
         |       CASE WHEN b.en_score = b.top AND b.top > 0 THEN 'en'
         |            WHEN b.fr_score = b.top AND b.top > 0 THEN 'fr'
         |            WHEN b.de_score = b.top AND b.top > 0 THEN 'de'
         |            ELSE 'unknown' END AS predicted_lang,
         |       CAST(len(k.t) AS INT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(d.text,
         |         '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpeish_tokens
         |FROM documents d
         |JOIN labels l ON l.doc_id = d.doc_id AND l.cluster_id = d.doc_id
         |JOIN gated g ON g.doc_id = d.doc_id AND g.reject_reason IS NULL
         |JOIN best b ON b.doc_id = d.doc_id
         |JOIN toks k ON k.doc_id = d.doc_id""".stripMargin,

    // Pipeline-funnel twin (Curation.curatePipeline): the curate chain's
    // CTEs + the shared encoding-flag CTEs + cap row_number + split CASE,
    // folded to one row of per-stage survivor counts via scalar
    // subqueries over MATERIALIZED stage CTEs.
    "corpus_pipeline" -> {
      val bounds = Curation.splitBounds(SplitFractions)
      val cases = SplitFractions.init.zip(bounds.init)
        .map { case ((name, _), cut) => s"WHEN b < $cut THEN '$name'" }
        .mkString(" ")
      s"""WITH RECURSIVE $gramsSql, $sigSql, $bucketsSql, $candidatePairsSql,
         |$componentsSql, $rawToksSql, $gateSql, $encFlagCtesSql,
         |ps3 AS MATERIALIZED (
         |  SELECT g.doc_id FROM gated g JOIN pflag e USING (doc_id)
         |  WHERE e.enc_ok AND g.reject_reason IS NULL
         |), ps4 AS MATERIALIZED (
         |  SELECT s.doc_id FROM ps3 s
         |  JOIN labels l ON l.doc_id = s.doc_id AND l.cluster_id = s.doc_id
         |), ps5 AS MATERIALIZED (
         |  SELECT doc_id FROM (
         |    SELECT d.doc_id,
         |           row_number() OVER (PARTITION BY d.source
         |             ORDER BY md5(concat('graft-cap1:',
         |               CAST(d.doc_id AS VARCHAR))), d.doc_id) AS rn
         |    FROM documents d JOIN ps4 USING (doc_id)) q
         |  WHERE rn <= 20
         |), ps6 AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE $cases ELSE '${SplitFractions.last._1}' END AS split
         |  FROM (SELECT doc_id,
         |          ${hashSql(s"'${Curation.SplitHashIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} % 10000 AS b
         |        FROM ps5) q
         |)
         |SELECT
         |  (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT count(*) FROM pflag WHERE enc_ok) AS n_encoding_clean,
         |  (SELECT count(*) FROM ps3) AS n_gate_passed,
         |  (SELECT count(*) FROM ps4) AS n_keepers,
         |  (SELECT count(*) FROM ps5) AS n_capped,
         |  (SELECT count(*) FROM ps6 WHERE split = 'train') AS n_train,
         |  (SELECT count(*) FROM ps6 WHERE split = 'val') AS n_val,
         |  (SELECT count(*) FROM ps6 WHERE split = 'test') AS n_test,
         |  round((SELECT count(*) FROM ps5) /
         |    CAST(greatest((SELECT count(*) FROM documents), 1) AS DOUBLE),
         |    6) AS retained_share""".stripMargin
    },

    // Sequence-packing twin (Curation.packSequences): same md5-derived
    // bucket, same running-sum chop at the token budget.
    "corpus_pack" ->
      s"""WITH $rawToksSql, tc AS (
         |  SELECT d.doc_id, CAST(len(k.t) AS INT) AS ws_tokens,
         |         CAST(${hashSql("'0:'", "CAST(d.doc_id AS VARCHAR)")}
         |              % $PackBuckets AS INT) AS bucket
         |  FROM documents d JOIN toks k ON d.doc_id = k.doc_id
         |)
         |SELECT doc_id, bucket,
         |       CAST(floor((sum(ws_tokens) OVER
         |         (PARTITION BY bucket ORDER BY doc_id) - ws_tokens)
         |         / ${PackBudget.toDouble}) AS INT) AS pack_id,
         |       ws_tokens
         |FROM tc""".stripMargin,

    // Pack-efficiency twin: the corpus_pack CTEs folded to one row.
    "corpus_pack_efficiency" ->
      s"""WITH $rawToksSql, tc AS (
         |  SELECT d.doc_id, CAST(len(k.t) AS INT) AS ws_tokens,
         |         CAST(${hashSql("'0:'", "CAST(d.doc_id AS VARCHAR)")}
         |              % $PackBuckets AS INT) AS bucket
         |  FROM documents d JOIN toks k ON d.doc_id = k.doc_id
         |), pk AS (
         |  SELECT bucket,
         |         CAST(floor((sum(ws_tokens) OVER
         |           (PARTITION BY bucket ORDER BY doc_id) - ws_tokens)
         |           / ${PackBudget.toDouble}) AS INT) AS pack_id,
         |         ws_tokens
         |  FROM tc
         |), pt AS (
         |  SELECT bucket, pack_id,
         |         CAST(sum(ws_tokens) AS BIGINT) AS pack_tokens
         |  FROM pk GROUP BY bucket, pack_id
         |)
         |SELECT count(*) AS n_packs,
         |       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         |       round(sum(pack_tokens)
         |             / CAST(greatest(count(*) * $PackBudget, 1) AS DOUBLE),
         |             6) AS fill_rate,
         |       round(sum(CASE WHEN pack_tokens > $PackBudget
         |                      THEN 1 ELSE 0 END)
         |             / CAST(greatest(count(*), 1) AS DOUBLE), 6)
         |         AS overflow_share
         |FROM pt""".stripMargin,

    // BPE training twin: the merge loop replayed in unrolled SQL (see
    // bpeTrainOracle) — every learned (rank, pair, count) must match.
    "corpus_bpe_train" -> bpeTrainOracle,

    // The DISTRIBUTED trainer (Materialize-loop over a vocab DataFrame)
    // checks against the SAME oracle — the two architectures cannot drift.
    "corpus_bpe_train_dist" -> bpeTrainOracle,

    // Byte-level training twin: the SAME unrolled merge-loop replay over
    // byte-mapped pretokens (bpeBytesTrainChainSql); both trainer
    // architectures check against this one oracle.
    "corpus_bpe_bytes_train" -> bpeBytesTrainOracle,
    "corpus_bpe_bytes_train_dist" -> bpeBytesTrainOracle,

    // Unigram-LM training twin: every EM round replayed — Viterbi as
    // recursive-CTE path enumeration + ORDER BY (cost, np, seg), usage
    // counts, char-floor/top-K prune. Every kept (piece, freq, score)
    // must hash-match.
    "corpus_ulm_train" -> s"$ulmTrainChainSql\n$ulmTrainFinalSql",

    // Distributed-word-table trainer: SAME oracle — cannot drift.
    "corpus_ulm_train_dist" -> s"$ulmTrainChainSql\n$ulmTrainFinalSql",

    // Quality-weighted A-ES draw: the trained-score chain feeding the
    // corpus_sample_weighted key, same hash member and seed scheme.
    "corpus_sample_quality" -> {
      val d = graft.ops.QualityModel.Dim
      val dot = (0 until d).map(j => s"w$j*x$j").mkString(" + ")
      s"""$qmTrainChainSql, scoredq AS (
         |  SELECT doc_id,
         |         round(1.0 / (1.0 + exp(-($dot))), 6) AS score
         |  FROM qf, ws${graft.ops.QualityModel.Steps}
         |)
         |SELECT doc_id, score
         |FROM scoredq
         |WHERE score > 0
         |ORDER BY ln((${hashSql("'0:'",
              "concat('graft-q1:', CAST(doc_id AS VARCHAR))")} + 0.5) /
         |         1152921504606846976.0) / score DESC, doc_id
         |LIMIT 50""".stripMargin
    },

    // BPE-budget epoch mixing: corpus_mix's twin with the subword count
    // as the budget unit.
    "corpus_mix_bpe" -> {
      val targetCase = MixTargets
        .map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
      s"""WITH $rawToksSql, btc AS (
         |  SELECT doc_id, $bpeTokensSql AS bpe_tokens FROM documents
         |), scored AS (
         |  SELECT doc_id,
         |$langScoresSql
         |  FROM toks
         |), best AS (
         |  SELECT *, greatest(en_score, fr_score, de_score) AS top FROM scored
         |), langed AS (
         |  SELECT s.doc_id, c.bpe_tokens,
         |         CASE WHEN s.en_score = s.top AND s.top > 0 THEN 'en'
         |              WHEN s.fr_score = s.top AND s.top > 0 THEN 'fr'
         |              WHEN s.de_score = s.top AND s.top > 0 THEN 'de'
         |              ELSE 'unknown' END AS predicted_lang
         |  FROM best s JOIN btc c USING (doc_id)
         |), totals AS (
         |  SELECT predicted_lang, sum(bpe_tokens) AS lang_tokens
         |  FROM langed GROUP BY predicted_lang
         |), mixed AS (
         |  SELECT l.doc_id, l.predicted_lang, l.bpe_tokens, t.lang_tokens,
         |         CAST(CASE l.predicted_lang $targetCase ELSE 0 END AS BIGINT)
         |           AS target,
         |         ${hashSql(s"'${Curation.MixHashIndex}:'",
                      "CAST(l.doc_id AS VARCHAR)")} % 10000 AS b
         |  FROM langed l JOIN totals t USING (predicted_lang)
         |)
         |SELECT doc_id, predicted_lang, bpe_tokens,
         |       CAST(CASE WHEN lang_tokens > 0 THEN
         |         target // lang_tokens
         |         + CASE WHEN b * lang_tokens <
         |                     (target - (target // lang_tokens)
         |                       * lang_tokens) * 10000
         |                THEN 1 ELSE 0 END
         |         ELSE 0 END AS INT) AS n_epochs
         |FROM mixed""".stripMargin
    },

    // Budget-quantized chunking twin: per word, BPE count → running sum →
    // floor(cum_before/budget) group; chunk text re-joined in word order.
    // (The Spark side computes the identical grouping inside ONE row —
    // functions/BpeChunks — this window formulation is the oracle's.)
    "corpus_chunk_bpe" ->
      s"""WITH wl AS (
         |  SELECT doc_id, $bpeWordsSql AS l FROM documents
         |), wi AS (
         |  SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM wl
         |), wc AS (
         |  SELECT doc_id, i, l[CAST(i AS INT)] AS word,
         |         len(string_split(
         |           trim(${bpeReplaceChain(bpeSpacedSql("l[CAST(i AS INT)]"))}),
         |           ' ')) AS c
         |  FROM wi
         |), cums AS (
         |  SELECT doc_id, i, word, c,
         |         sum(c) OVER (PARTITION BY doc_id ORDER BY i) - c AS cum0
         |  FROM wc
         |)
         |SELECT doc_id,
         |       CAST(cum0 // $ChunkBpeBudget AS INT) AS chunk_id,
         |       CAST(sum(c) AS INT) AS n_chunk_bpe,
         |       string_agg(word, ' ' ORDER BY i) AS chunk_text
         |FROM cums
         |GROUP BY doc_id, cum0 // $ChunkBpeBudget""".stripMargin,

    // BPE-budget sequence packing: corpus_pack's twin with the subword
    // count as the packed unit.
    "corpus_pack_bpe" ->
      s"""WITH tc AS (
         |  SELECT doc_id, $bpeTokensSql AS bpe_tokens,
         |    CAST(${hashSql("'0:'", "CAST(doc_id AS VARCHAR)")}
         |         % $PackBuckets AS INT) AS bucket
         |  FROM documents
         |)
         |SELECT doc_id, bucket,
         |       CAST(floor((sum(bpe_tokens) OVER
         |         (PARTITION BY bucket ORDER BY doc_id) - bpe_tokens)
         |         / ${PackBudget.toDouble}) AS INT) AS pack_id,
         |       bpe_tokens
         |FROM tc""".stripMargin,

    // ULM-budget packing twin: the fixed-vocab Viterbi chain for per-doc
    // piece counts + the same bucket/running-sum/chop window as the BPE
    // and whitespace packers.
    "corpus_pack_ulm" ->
      s"""WITH RECURSIVE $ulmFixedVocabSql, $ulmCorpusWordsSql
         |${ulmWalkSql("P", "ucw", "uvoc", withCnt = false)}
         |, utc AS (
         |  SELECT d.doc_id, CAST(coalesce(x.n, 0) AS INT) AS ulm_tokens,
         |         CAST(${hashSql("'0:'", "CAST(d.doc_id AS VARCHAR)")}
         |              % $PackBuckets AS INT) AS bucket
         |  FROM documents d LEFT JOIN (
         |    SELECT o.doc_id, sum(b.np) AS n
         |    FROM (SELECT doc_id, t.w AS word FROM utoks,
         |            unnest(ws) AS t(w)) o
         |    JOIN ubestP b USING (word)
         |    GROUP BY 1) x USING (doc_id)
         |)
         |SELECT doc_id, bucket,
         |       CAST(floor((sum(ulm_tokens) OVER
         |         (PARTITION BY bucket ORDER BY doc_id) - ulm_tokens)
         |         / ${PackBudget.toDouble}) AS INT) AS pack_id,
         |       ulm_tokens
         |FROM utc""".stripMargin,

    // Decontamination twin (Curation.contamination): same rare-gram
    // df-cap, same benchmark predicate, same ≥3-shared-grams flag.
    "decontaminate" -> decontaminateOracle,

    // The Bloom-prefiltered variant produces IDENTICAL rows (the filter
    // only prunes shuffle traffic; the exact join removes false
    // positives), so it checks against the very same oracle.
    "decontaminate_bloom" -> decontaminateOracle,

    // Exact-certificate twin: the SAME cross-corpus prefix machinery as
    // Dedup.setSimJoinCross (union-vocabulary df order, right-prefix
    // index probed by left-full streams), folded to per-corpus-doc flags.
    "decontaminate_setsim" ->
      s"""WITH $setsimGramsSql, xnz AS (
         |  SELECT doc_id, g FROM sgrams WHERE len(g) > 0
         |), xl AS (
         |  SELECT doc_id AS left_id, len(g) AS lsz, unnest(g) AS t
         |  FROM xnz WHERE doc_id % 10 <> 0
         |), xr AS (
         |  SELECT doc_id AS right_id, len(g) AS rsz, unnest(g) AS t
         |  FROM xnz WHERE doc_id % 10 = 0
         |), xdf AS (
         |  SELECT t, count(*) AS dfreq
         |  FROM (SELECT t FROM xl UNION ALL SELECT t FROM xr) GROUP BY t
         |), xlp AS (
         |  SELECT left_id, lsz, t, rk FROM (
         |    SELECT xl.left_id, xl.lsz, xl.t,
         |           row_number() OVER (PARTITION BY xl.left_id
         |             ORDER BY xdf.dfreq,
         |                      (${hashSql("'0:'", "xl.t")} & 1073741823),
         |                      xl.t) AS rk
         |    FROM xl JOIN xdf ON xdf.t = xl.t)
         |  WHERE rk <= lsz - ceil(${Dedup.SetSimThreshold} * lsz) + 1
         |), xrp AS (
         |  SELECT right_id, rsz, t, rk FROM (
         |    SELECT xr.right_id, xr.rsz, xr.t,
         |           row_number() OVER (PARTITION BY xr.right_id
         |             ORDER BY xdf.dfreq,
         |                      (${hashSql("'0:'", "xr.t")} & 1073741823),
         |                      xr.t) AS rk
         |    FROM xr JOIN xdf ON xdf.t = xr.t)
         |  WHERE rk <= rsz - ceil(${Dedup.SetSimThreshold} * rsz) + 1
         |), xcand AS (
         |  SELECT DISTINCT l.left_id, p.right_id
         |  FROM xlp l JOIN xrp p ON l.t = p.t
         |  WHERE p.rsz * ${Dedup.SetSimThreshold} <= l.lsz
         |    AND l.lsz * ${Dedup.SetSimThreshold} <= p.rsz
         |    AND 1 + least(l.lsz - l.rk, p.rsz - p.rk)
         |        >= ceil(CAST(${Dedup.SetSimThreshold /
                  (1 + Dedup.SetSimThreshold)} AS DOUBLE) * (l.lsz + p.rsz))
         |), xver AS (
         |  SELECT left_id, right_id,
         |         round(len(list_filter(ga.g, x -> list_contains(gb.g, x)))
         |           / CAST(len(ga.g) + len(gb.g)
         |               - len(list_filter(ga.g, x -> list_contains(gb.g, x)))
         |             AS DOUBLE), 6) AS jaccard
         |  FROM xcand
         |  JOIN xnz ga ON ga.doc_id = left_id
         |  JOIN xnz gb ON gb.doc_id = right_id
         |), xflag AS (
         |  SELECT left_id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |         max(jaccard) AS max_jaccard
         |  FROM xver WHERE jaccard >= ${Dedup.SetSimThreshold}
         |  GROUP BY left_id
         |)
         |SELECT d.doc_id, (f.max_jaccard IS NOT NULL) AS contaminated,
         |       coalesce(f.n_matches, 0) AS n_matches, f.max_jaccard
         |FROM documents d LEFT JOIN xflag f USING (doc_id)
         |WHERE d.doc_id % 10 <> 0""".stripMargin,

    // Snapshot-diff twins (Curation.snapshotDiff / snapshotDiffReport):
    // same synthetic next-ingest derivation, FULL OUTER on doc_id,
    // text equality where the engine compares digests.
    "corpus_snapshot_diff" ->
      s"""$snapshotDiffCtesSql
         |SELECT doc_id, status FROM dj""".stripMargin,

    "corpus_diff_report" ->
      s"""$snapshotDiffCtesSql, cs AS (
         |  SELECT
         |    sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
         |    sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
         |      AS n_removed,
         |    sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
         |      AS n_changed,
         |    sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
         |      AS n_unchanged
         |  FROM dj
         |)
         |SELECT
         |  CAST(n_removed + n_changed + n_unchanged AS BIGINT) AS n_old,
         |  CAST(n_added + n_changed + n_unchanged AS BIGINT) AS n_new,
         |  CAST(n_added AS BIGINT) AS n_added,
         |  CAST(n_removed AS BIGINT) AS n_removed,
         |  CAST(n_changed AS BIGINT) AS n_changed,
         |  CAST(n_unchanged AS BIGINT) AS n_unchanged,
         |  round((n_added + n_removed + n_changed)
         |    / CAST(greatest(n_added + n_changed + n_unchanged, 1)
         |      AS DOUBLE), 6) AS churn_share
         |FROM cs""".stripMargin,

    // Leakage twins (Curation.splitLeakage / splitLeakageReport): same
    // inlined split CASE, same distinct word-8-gram windows (list slice ≡
    // Spark's slice, both 1-based), gram overlap joined on the gram
    // STRING where the engine joins on its xxhash64 (count-identical
    // short of a 64-bit collision); shares rounded before the flag.
    "corpus_split_leakage" ->
      s"""$leakageCtesSql
         |SELECT doc_id, n_grams, n_leaked, d_share AS leak_share,
         |       (d_share >= ${Curation.LeakFlagShare}) AS flagged
         |FROM ldet""".stripMargin,

    "corpus_leakage_report" ->
      s"""$leakageCtesSql
         |SELECT CAST(count(*) AS BIGINT) AS n_val_docs,
         |       CAST(sum(n_grams) AS BIGINT) AS n_val_grams,
         |       CAST(sum(n_leaked) AS BIGINT) AS n_leaked_grams,
         |       round(sum(n_leaked)
         |         / CAST(greatest(sum(n_grams), 1) AS DOUBLE), 6)
         |         AS leak_share,
         |       max(d_share) AS max_doc_share,
         |       CAST(sum(CASE WHEN d_share >= ${Curation.LeakFlagShare}
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM ldet""".stripMargin,

    // Split-assignment twin (Curation.assignSplits): same hash-family
    // member, same INTEGER bucket boundaries (interpolated from
    // Curation.splitBounds so float cumulative sums can never split the
    // engines on a boundary bucket).
    "corpus_split" -> {
      val bounds = Curation.splitBounds(SplitFractions)
      val cases = SplitFractions.init.zip(bounds.init)
        .map { case ((name, _), cut) => s"WHEN b < $cut THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id,
         |       CASE $cases ELSE '${SplitFractions.last._1}' END AS split
         |FROM (
         |  SELECT doc_id,
         |         ${hashSql(s"'${Curation.SplitHashIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} % 10000 AS b
         |  FROM documents
         |)""".stripMargin
    },

    // Curriculum twin (Curation.curriculum): the shared quality-score
    // chain, the same fixed cutoffs on the ROUNDED score, the same
    // hash-family members for shard and order.
    "corpus_curriculum" -> {
      val tierSql = Curation.CurriculumCuts
        .map(c => s"(CASE WHEN quality_score >= $c THEN 1 ELSE 0 END)")
        .mkString("1 + ", " + ", "")
      s"""WITH $qualityScoreCtesSql, ct AS (
         |  SELECT doc_id, quality_score,
         |         CAST($tierSql AS INT) AS tier,
         |         CAST(${hashSql(s"'${Curation.CurriculumShardIndex}:'",
                      "CAST(doc_id AS VARCHAR)")}
         |           % ${Curation.CurriculumShards} AS INT) AS shard,
         |         ${hashSql(s"'${Curation.CurriculumOrderIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM qsout
         |)
         |SELECT doc_id, quality_score, tier, shard,
         |       CAST(row_number() OVER (PARTITION BY tier, shard
         |         ORDER BY ord, doc_id) AS INT) AS pos
         |FROM ct""".stripMargin
    },

    // Shuffle-shard twin (Curation.shuffleShards): same two hash-family
    // members, same row_number ordering with doc_id tie-break.
    "corpus_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         CAST(${hashSql(s"'${Curation.ShardHashIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} % $ShuffleShards AS INT)
         |           AS shard,
         |         ${hashSql(s"'${Curation.OrderHashIndex}:'",
                      "CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM documents
         |)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER
         |         (PARTITION BY shard ORDER BY ord, doc_id) AS INT) AS pos
         |FROM h""".stripMargin,

    // Mix-epochs twin (Curation.mixEpochs): same language scores, same
    // integer whole-epoch division and cross-multiplied fractional draw —
    // BIGINT arithmetic end to end, no float boundary anywhere.
    "corpus_mix" -> {
      val targetCase = MixTargets
        .map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
      s"""WITH $rawToksSql, scored AS (
         |  SELECT doc_id, CAST(len(t) AS INT) AS ws_tokens,
         |$langScoresSql
         |  FROM toks
         |), best AS (
         |  SELECT *, greatest(en_score, fr_score, de_score) AS top FROM scored
         |), langed AS (
         |  SELECT doc_id, ws_tokens,
         |         CASE WHEN en_score = top AND top > 0 THEN 'en'
         |              WHEN fr_score = top AND top > 0 THEN 'fr'
         |              WHEN de_score = top AND top > 0 THEN 'de'
         |              ELSE 'unknown' END AS predicted_lang
         |  FROM best
         |), totals AS (
         |  SELECT predicted_lang, sum(ws_tokens) AS lang_tokens
         |  FROM langed GROUP BY predicted_lang
         |), mixed AS (
         |  SELECT l.doc_id, l.predicted_lang, l.ws_tokens, t.lang_tokens,
         |         CAST(CASE l.predicted_lang $targetCase ELSE 0 END AS BIGINT)
         |           AS target,
         |         ${hashSql(s"'${Curation.MixHashIndex}:'",
                      "CAST(l.doc_id AS VARCHAR)")} % 10000 AS b
         |  FROM langed l JOIN totals t USING (predicted_lang)
         |)
         |SELECT doc_id, predicted_lang, ws_tokens,
         |       CAST(CASE WHEN lang_tokens > 0 THEN
         |         target // lang_tokens
         |         + CASE WHEN b * lang_tokens <
         |                     (target - (target // lang_tokens)
         |                       * lang_tokens) * 10000
         |                THEN 1 ELSE 0 END
         |         ELSE 0 END AS INT) AS n_epochs
         |FROM mixed""".stripMargin
    },

    // Chunking twin (Curation.chunkDocuments): same token windows —
    // DuckDB's inclusive 1-based list slice mirrors Spark's slice(t, s+1, k).
    "corpus_chunk" ->
      s"""WITH $rawToksSql, nn AS (
         |  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
         |), st AS (
         |  SELECT doc_id, t, unnest(range(0, n, $ChunkStride)) AS s FROM nn
         |)
         |SELECT doc_id,
         |       CAST(s // $ChunkStride AS INT) AS chunk_id,
         |       CAST(len(t[s + 1 : s + $ChunkSize]) AS INT) AS n_chunk_tokens,
         |       array_to_string(t[s + 1 : s + $ChunkSize], ' ') AS chunk_text
         |FROM st""".stripMargin,

    // Deterministic DSIR selection twin: top-k by (ratio desc, doc_id) —
    // the 6-dp rounded ratio plus the id tie-break makes the cut
    // bit-stable on both engines.
    "corpus_select_dsir" ->
      s"""WITH $dsirCtesSql
         |SELECT doc_id, n_tokens, dsir_logratio
         |FROM dscored
         |WHERE dsir_logratio IS NOT NULL
         |ORDER BY dsir_logratio DESC, doc_id
         |LIMIT 50""".stripMargin,

    // Deterministic stratified sampler twin (Curation.sampleByLanguage):
    // same md5-derived bucket, same per-language CASE of rates. The CAST
    // AS DOUBLE matters: DuckDB parses 0.07 as DECIMAL, whose exact ·10000
    // differs from Spark's binary-double product on the boundary bucket.
    "corpus_sample" -> {
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""WITH $rawToksSql, scored AS (
         |  SELECT doc_id,
         |$langScoresSql
         |  FROM toks
         |), best AS (
         |  SELECT *, greatest(en_score, fr_score, de_score) AS top FROM scored
         |), langed AS (
         |  SELECT doc_id,
         |         CASE WHEN en_score = top AND top > 0 THEN 'en'
         |              WHEN fr_score = top AND top > 0 THEN 'fr'
         |              WHEN de_score = top AND top > 0 THEN 'de'
         |              ELSE 'unknown' END AS predicted_lang
         |  FROM best
         |)
         |SELECT doc_id, predicted_lang FROM langed
         |WHERE (${hashSql("'0:'", "CAST(doc_id AS VARCHAR)")} % 10000)
         |      < CAST((CASE predicted_lang $rateCase
         |              ELSE $SampleDefaultRate END) AS DOUBLE) * 10000""".stripMargin
    },

    // Fixed-k stratified sample twin (Curation.sampleGrouped): identical
    // seeded-md5 ranking, doc_id tie-break, identical rank cutoff.
    "corpus_sample_grouped" ->
      """SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id,
        |       source, n_chars
        |FROM (
        |  SELECT lang, doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(concat('graft-v1:',
        |             CAST(doc_id AS VARCHAR))), doc_id) AS sample_rank
        |  FROM documents
        |)
        |WHERE sample_rank <= 20""".stripMargin,

    // Per-source cap twin (Curation.capBySource): same seeded md5 rank
    // within source, doc_id tie-break, rank ≤ cap.
    // Stable-id twin (Curation.assignStableIds): the bucketed two-level
    // ranking must equal the naive global row_number exactly.
    "corpus_assign_ids" ->
      """SELECT doc_id,
        |       row_number() OVER (ORDER BY doc_id) AS stable_id
        |FROM documents""".stripMargin,

    "corpus_cap_source" ->
      """SELECT source, CAST(cap_rank AS INT) AS cap_rank, doc_id,
        |       lang, n_chars
        |FROM (
        |  SELECT source, doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(concat('graft-cap1:',
        |             CAST(doc_id AS VARCHAR))), doc_id) AS cap_rank
        |  FROM documents
        |)
        |WHERE cap_rank <= 20""".stripMargin,

    // Source-mix twin (Curation.sourceMix): HHI staged as Σn²/N² in
    // exact integer arithmetic (HUGEINT ≙ Spark DECIMAL), one double
    // division at the end; top-1 tie-break = largest count, smallest
    // source name.
    "corpus_source_mix" ->
      """WITH sc AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS INT) AS n_sources,
        |         sum(CAST(n AS HUGEINT) * n) AS sq
        |  FROM sc
        |), t1 AS (
        |  SELECT source AS top_source, n AS top_source_docs
        |  FROM sc ORDER BY n DESC, source LIMIT 1
        |), t5 AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS top5_docs
        |  FROM (SELECT n FROM sc ORDER BY n DESC, source LIMIT 5)
        |)
        |SELECT n_docs, n_sources, top_source, top_source_docs,
        |       round(top_source_docs / CAST(n_docs AS DOUBLE), 6)
        |         AS top_share,
        |       round(top5_docs / CAST(n_docs AS DOUBLE), 6) AS top5_share,
        |       round(CAST(sq AS DOUBLE)
        |             / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS hhi,
        |       round(1.0 / round(CAST(sq AS DOUBLE)
        |             / (CAST(n_docs AS DOUBLE) * n_docs), 6), 6)
        |         AS eff_sources
        |FROM tot, t1, t5""".stripMargin,

    // Weighted A-ES sample twin (Curation.sampleWeighted): the same
    // hash-uniform u and ln(u)/w ranking key, doc_id tie-break.
    "corpus_sample_weighted" ->
      s"""SELECT doc_id, n_chars
         |FROM documents
         |WHERE n_chars > 0
         |ORDER BY ln((${hashSql("'0:'",
              "concat('graft-w1:', CAST(doc_id AS VARCHAR))")} + 0.5) /
         |         1152921504606846976.0) / n_chars DESC, doc_id
         |LIMIT 50""".stripMargin,

    // Per-stratum weighted twin (Curation.sampleGroupedWeighted): the
    // sampleGrouped window with sampleWeighted's A-ES key inside it.
    "corpus_sample_grouped_weighted" ->
      s"""SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id,
         |       n_chars
         |FROM (
         |  SELECT lang, doc_id, n_chars,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ln((${hashSql("'0:'",
              "concat('graft-gw1:', CAST(doc_id AS VARCHAR))")} + 0.5) /
         |             1152921504606846976.0) / n_chars DESC, doc_id)
         |           AS sample_rank
         |  FROM documents WHERE n_chars > 0
         |)
         |WHERE sample_rank <= 20""".stripMargin,

    // Token-drift twin (Curation.tokenDrift): inlined split CASE, same
    // Jelinek-Mercer smoothing staged in the same literal order (the λ/B
    // floor interpolates as the Scala double's shortest round-trip
    // representation, so both engines mix the identical double). Unseen
    // buckets contribute exactly 0 under interpolation — no tail term.
    "corpus_token_drift" ->
      s"""WITH $rawToksSql, $driftCtesSql
         |SELECT CAST(seen AS INT) AS n_buckets_seen,
         |       CAST(ntr AS BIGINT) AS train_tokens,
         |       CAST(nva AS BIGINT) AS val_tokens,
         |       round(klp, 6) AS kl_val_train,
         |       round(jsp, 6) AS js
         |FROM dfa, dft""".stripMargin,

    // Dashboard twin (Curation.corpusStats).
    "corpus_stats" ->
      s"""WITH $rawToksSql, $corpusStatsCtesSql
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_empty AS BIGINT) AS n_empty,
         |       CAST(total_chars AS BIGINT) AS total_chars,
         |       CAST(total_tokens AS BIGINT) AS total_tokens,
         |       CAST(distinct_terms AS BIGINT) AS distinct_terms,
         |       round(CAST(total_tokens AS DOUBLE) / greatest(n_docs, 1), 6)
         |         AS avg_doc_tokens
         |FROM csd, cst, csv""".stripMargin,

    // Length-bucket twin (Curation.lengthBuckets): the same binary-digit
    // bucket off the raw token count, integer waste, 6-dp efficiency.
    "corpus_length_buckets" ->
      s"""WITH $rawToksSql, lb AS (
         |  SELECT doc_id, CAST(len(t) AS INT) AS n_toks,
         |         CAST(length(bin(CAST(greatest(len(t), 1) AS BIGINT)))
         |           AS INT) AS bucket
         |  FROM toks
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(min(n_toks) AS INT) AS min_toks,
         |       CAST(max(n_toks) AS INT) AS max_toks,
         |       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
         |       CAST(max(n_toks) * count(*) - sum(n_toks) AS BIGINT)
         |         AS pad_waste_toks,
         |       round(CAST(sum(n_toks) AS DOUBLE)
         |             / greatest(max(n_toks) * count(*), 1), 6)
         |         AS pad_efficiency
         |FROM lb GROUP BY bucket""".stripMargin,

    // Dedup-dashboard twin (Curation.dedupReport): exact distincts +
    // cluster keepers (the recursive-CTE components) + duplicated-line
    // totals over the wrapped view, one row.
    "corpus_dedup_report" -> {
      val L = graft.ops.Dedup.LineDedupMinChars
      s"""WITH RECURSIVE $gramsSql, $sigSql, $bucketsSql, $candidatePairsSql,
         |$componentsSql, $rawToksSql, wrapped AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) > 0 THEN
         |           array_to_string(list_transform(range(0, (len(t) + 9) // 10),
         |             i -> array_to_string(
         |               t[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ')),
         |             chr(10))
         |         ELSE '' END AS text
         |  FROM toks
         |), ln AS (
         |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |  FROM wrapped
         |), ddup AS (
         |  SELECT line FROM ln WHERE len(line) >= $L
         |  GROUP BY line HAVING count(*) >= 2
         |), lstats AS (
         |  SELECT (SELECT count(*) FROM ln) AS total_lines,
         |         (SELECT count(*) FROM ln
         |          WHERE len(line) >= $L
         |            AND line IN (SELECT line FROM ddup)) AS dup_lines
         |), estats AS (
         |  SELECT count(*) AS n_docs,
         |         count(DISTINCT text) AS n_distinct_texts
         |  FROM documents
         |), kstats AS (
         |  SELECT count(*) AS n_keepers FROM labels WHERE doc_id = cluster_id
         |)
         |SELECT n_docs,
         |       n_docs - n_distinct_texts AS exact_dup_docs,
         |       n_docs - n_keepers AS near_dup_prunable,
         |       round((n_docs - n_keepers)
         |             / CAST(greatest(n_docs, 1) AS DOUBLE), 6)
         |         AS near_dup_share,
         |       total_lines, dup_lines,
         |       round(dup_lines / CAST(greatest(total_lines, 1) AS DOUBLE), 6)
         |         AS dup_line_share
         |FROM estats, kstats, lstats""".stripMargin
    },

    // Snapshot-report composite (Curation.corpusReport): the dashboard
    // row + the drift verdict + two length-histogram summaries, composed
    // from the SAME CTE fragments as the standalone twins so the report
    // and its parts cannot drift.
    "corpus_report" ->
      s"""WITH $rawToksSql, $corpusStatsCtesSql, $driftCtesSql,
         |$lengthHistCtesSql, modal AS (
         |  SELECT CAST(bucket AS INT) AS modal_bucket
         |  FROM lhg ORDER BY n_docs DESC, bucket LIMIT 1
         |), longs AS (
         |  SELECT round(CAST(sum(CASE WHEN bucket >= ${Curation.LongDocBucket}
         |             THEN total_tokens ELSE 0 END) AS DOUBLE)
         |           / greatest(sum(total_tokens), 1), 6)
         |           AS long_doc_token_share
         |  FROM lhg
         |)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_empty AS BIGINT) AS n_empty,
         |       CAST(total_chars AS BIGINT) AS total_chars,
         |       CAST(total_tokens AS BIGINT) AS total_tokens,
         |       CAST(distinct_terms AS BIGINT) AS distinct_terms,
         |       round(CAST(total_tokens AS DOUBLE) / greatest(n_docs, 1), 6)
         |         AS avg_doc_tokens,
         |       round(klp, 6) AS kl_val_train,
         |       round(jsp, 6) AS js,
         |       (round(jsp, 6) <= CAST(${Curation.DriftJsAlarm} AS DOUBLE))
         |         AS drift_ok,
         |       modal_bucket,
         |       long_doc_token_share
         |FROM csd, cst, csv, dfa, dft, modal, longs""".stripMargin,

    // Length-histogram twin (Curation.lengthHistogram): identical integer
    // bit-length binning — length(bin(n)) on both engines — so no float
    // log2 ever touches a bin boundary.
    "corpus_length_histogram" ->
      s"""WITH $lengthHistCtesSql
         |SELECT CAST(bucket AS INT) AS bucket,
         |       CAST(CASE WHEN bucket = 0 THEN 0
         |                 ELSE power(2, bucket - 1) END AS BIGINT) AS len_lo,
         |       CAST(CASE WHEN bucket = 0 THEN 0
         |                 ELSE power(2, bucket) - 1 END AS BIGINT) AS len_hi,
         |       n_docs,
         |       CAST(total_tokens AS BIGINT) AS total_tokens
         |FROM lhg""".stripMargin,
  )
}
