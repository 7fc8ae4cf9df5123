package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** Similarity/ANN family: brute-force, SRP-LSH, IVF(+trained), PQ/IVFPQ, random projection, kNN eval, density outliers, and the recall-floor audits.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesSim {

  private val TopK = 5

  private val NearDupCosine = 0.25

  private def simBruteTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(StandIn.embeddings(s, dir), TopK)

  private def simLshTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(StandIn.embeddings(s, dir), SrpBits, TopK)

  private def simCosineNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(StandIn.embeddings(s, dir), SrpBits, NearDupCosine)

  private def simIvfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(StandIn.embeddings(s, dir), IvfCells, TopK)

  private def simIvfKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansIvfTopK(StandIn.embeddings(s, dir), IvfCells,
      iters = 3, k = TopK, nprobe = 2)

  // Recall@k of the trained-IVF result vs the exact brute force, as one
  // deterministic (hits, expected, recall) row over ONE shared prepared
  // frame. Both sides are deterministic, so the driver's rows-only check
  // pins the row COUNT and SimilaritySpec pins the recall floor; a
  // quantizer regression flips the unit test red instead of hiding behind
  // a rows-only count.
  private def simIvfRecall(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecallReport(StandIn.embeddings(s, dir),
      IvfCells, iters = 3, k = TopK, nprobe = 2)

  // The synthetic embeddings are near-uniform, where IVF recall is
  // structurally bounded near nprobe/cells (trained cells add a margin on
  // top): measured 0.48 at nprobe=2/cells=8, deterministically. 0.4 is a
  // regression floor, not a quality claim — SimilaritySpec holds the 0.8
  // floor on clustered data, the regime IVF exists for.
  private val RecallFloor = 0.4

  // Oracle-checked face of the recall report: (expected, floor_met) —
  // expected derives from the oracle's own query-draw CTE, floor_met is
  // pinned TRUE. A quantizer recall regression fails a hash-checked row.
  private def simIvfRecallAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfRecallAudit(StandIn.embeddings(s, dir),
      IvfCells, iters = 3, k = TopK, nprobe = 2, floor = RecallFloor)

  // PQ/IVFPQ regression floors, same posture as RecallFloor: measured
  // 0.53 / 0.40 at the sf0.01 verify point (deterministic — driver-side
  // training on the fixed hash draw), floored with ~25% margin. These are
  // canaries against quantizer breakage (a broken encoder lands near
  // k/N ≈ 0.01), not quality claims — the clustered-data unit tests hold
  // the 0.8 quality floor in the regime PQ exists for.

  // PQ/IVFPQ regression floors, same posture as RecallFloor: measured
  // 0.528 / 0.404 at the sf0.01 verify point and 0.32 / 0.296 at sf0.1
  // (deterministic — driver-side training on the fixed hash draw; recall
  // falls with corpus size because the caps on codebook size and training
  // sample stay fixed while N grows 10×). Floored BELOW both measured
  // points so the audit is scale-robust across the driver's verify
  // scales. These are canaries against quantizer breakage (a broken
  // encoder lands near k/N ≈ 1e-3..1e-4), not quality claims — the
  // clustered-data unit tests hold the 0.8 quality floor in the regime
  // PQ exists for.
  //
  // Re-rank budget scales with the corpus (0.2 % of N, min 4×k-ish — the
  // rp64 shortlist-fraction argument): a FIXED refine over a growing
  // corpus re-ranks a shrinking fraction, so its recall decays by
  // construction — the r14 sf1.0 sweep measured exactly that (PQ 0.528 →
  // 0.136 going 2k → 20k vectors at refine 4; 0.404 at the scaled 40).
  // The constant refine stays the default on the *_topk faces — it is
  // the knob a deployment turns — while the audit pins the scaled
  // contract so the floor separates working from broken at ANY corpus
  // size.
  // Counted on the RAW parquet read, not the StandIn frame: StandIn's
  // harness fan-out would put a full round-robin shuffle under what is a
  // metadata-answerable row count (parquet footers carry it), costing an
  // extra exchange per audit query for the same number.
  private def scaledRefine(s: SparkSession, dir: String): Int =
    math.max(4,
      math.ceil(
        StandIn.table(s, dir, "embeddings").count() * 0.002).toInt)

  private def simPqRecallAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAudit(
      Similarity.pqRecallReport(StandIn.embeddings(s, dir), k = TopK,
        refine = scaledRefine(s, dir)),
      floor = 0.25)

  private def simIvfPqRecallAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAudit(
      Similarity.ivfPqRecallReport(StandIn.embeddings(s, dir),
        cells = IvfCells, k = TopK, nprobe = 2,
        refine = scaledRefine(s, dir)),
      floor = 0.2)

  private def simQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeStats(StandIn.embeddings(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cos_histogram"   -> ((s, d) =>
      Similarity.cosineHistogram(StandIn.embeddings(s, d), SrpBits)),

    "sim_brute_topk"      -> ((s, d) => simBruteTopK(s, d)),

    "sim_lsh_topk"        -> ((s, d) => simLshTopK(s, d)),

    "sim_cosine_neardup"  -> ((s, d) => simCosineNearDup(s, d)),

    // Clusters run at a STRICTER threshold than the pairs query: 0.25 is
    // ~2σ of random cosine at dim 64, so on near-orthogonal synthetic
    // embeddings it admits the random tail and welds one sprawling
    // component whose diameter the CC loop then pays for round by round.
    // 0.4 (3σ+) keeps only strong-similarity edges — the semantics a
    // dedup cluster means, and an O(1)-diameter graph.
    "sim_neardup_clusters" -> ((s, d) =>
      Similarity.cosineNearDupClusters(
        StandIn.embeddings(s, d), SrpBits, NearDupClusterCosine)),

    "sim_ivf_topk"        -> ((s, d) => simIvfTopK(s, d)),

    // Index-balance diagnostics over the same seed-7 coarse quantizer:
    // per-cell sizes + the one-row imbalance rollup (Similarity
    // .clusterSizes/clusterBalance — the ANN face of profile_key_skew).
    "sim_cluster_sizes"   -> ((s, d) =>
      Similarity.clusterSizes(StandIn.embeddings(s, d))),

    "sim_cluster_balance" -> ((s, d) =>
      Similarity.clusterBalance(StandIn.embeddings(s, d))),

    // K-means training is an imperative iterative fit with no practical
    // SQL twin; the driver records a rows-only check and SimilaritySpec
    // bounds recall vs the exact brute force.
    "sim_ivf_kmeans"      -> ((s, d) => simIvfKmeans(s, d)),

    // Trained-quantizer recall vs brute force — rows-only (the IVF side
    // has no SQL twin) but 1-row deterministic; SimilaritySpec bounds it.
    "sim_ivf_recall"      -> ((s, d) => simIvfRecall(s, d)),

    "sim_ivf_recall_audit" -> ((s, d) => simIvfRecallAudit(s, d)),

    "sim_pq_recall_audit" -> ((s, d) => simPqRecallAudit(s, d)),

    "sim_ivfpq_recall_audit" -> ((s, d) => simIvfPqRecallAudit(s, d)),

    // PQ training is the same imperative fit — rows-only check;
    // SimilaritySpec bounds ADC recall against the exact baseline.
    "sim_pq_topk"         -> ((s, d) =>
      Similarity.pqTopK(StandIn.embeddings(s, d), k = TopK)),

    // IVFPQ (coarse cells + residual PQ, the FAISS IVFADC shape) — same
    // imperative-training caveat → rows-only + recall-bounded unit test.
    "sim_ivfpq"           -> ((s, d) =>
      Similarity.ivfPqTopK(StandIn.embeddings(s, d), IvfCells, k = TopK)),

    "sim_quantize"        -> ((s, d) => simQuantize(s, d)),

    // Johnson–Lindenstrauss random projection to 16 dims (Rademacher
    // planes, the SRP machinery reused): per-vector components + the
    // ‖y‖²/‖x‖² distortion report (Similarity.randomProjection).
    "sim_rp_project"      -> ((s, d) =>
      Similarity.randomProjection(StandIn.embeddings(s, d))),

    // RP-space vs full-space recall report (rows-only by design — the
    // recall value is engine-measured; the audit twin hash-checks its
    // floor): Similarity.rpRecallReport.
    "sim_rp_recall"       -> ((s, d) =>
      Similarity.rpRecallReport(StandIn.embeddings(s, d))),

    // Collapse-guard recall contract (floor 6× the random baseline —
    // see Similarity.RpRecallFloor scaladoc for the honest reading) +
    // the ACTUAL JL guarantee: pairwise-cosine distortion over the
    // constant draw, bounds hash-checked (Similarity.rpCosineAudit).
    "sim_rp_recall_audit" -> ((s, d) =>
      Similarity.rpRecallAudit(StandIn.embeddings(s, d))),

    // Density outlier screen over the SRP near-dup graph: vectors with
    // < 2 bucket-mates at the near-dup cosine (Similarity.densityOutliers).
    "sim_density_outliers" -> ((s, d) =>
      Similarity.densityOutliers(StandIn.embeddings(s, d),
        SrpBits, NearDupCosine)),

    "sim_rp_cosine"       -> ((s, d) =>
      Similarity.rpCosineReport(StandIn.embeddings(s, d))),

    "sim_rp_cosine_audit" -> ((s, d) =>
      Similarity.rpCosineAudit(StandIn.embeddings(s, d))),

    // knnLabelEval itself is NOT registered: the fixture's label column
    // is embedding-uncorrelated, so that eval honestly reads ≈ chance —
    // r14 verdict retired it to the SimilaritySpec unit test (separable
    // clusters). The cell-label variant below is the one with signal.

    // k-NN label eval with labels derived from embedding space (seed-7
    // quantizer cells — Similarity.knnCellLabelEval scaladoc).
    "sim_knn_cell_eval"   -> ((s, d) =>
      Similarity.knnCellLabelEval(StandIn.embeddings(s, d), IvfCells)),

    // JL quality bar at k=64: prefilter recall (exact top-5 within the
    // RP-64 top-2%-of-corpus shortlist, min 40) floored at 0.5 — a REAL
    // separation of
    // working from broken, where the k=16 ranking audit could only guard
    // against collapse (Similarity.Rp64RecallFloor scaladoc on why
    // ranking recall is geometry-capped on this fixture).
    "sim_rp64_recall_audit" -> ((s, d) =>
      Similarity.rp64RecallAudit(StandIn.embeddings(s, d))),

    // Cross-snapshot centroid drift per seed-7 quantizer cell: even
    // vec_ids are snapshot A, odd are B; decimal-exact two-level sums
    // make the per-cell cosine bit-stable across engines
    // (Similarity.cellCentroidDrift scaladoc).
    "sim_centroid_drift" -> ((s, d) =>
      Similarity.cellCentroidDrift(StandIn.embeddings(s, d), IvfCells)),

    // The √(16/64) JL error shrink pinned cross-target: mean distortion
    // at k=64 strictly below k=16's and under the absolute bound
    // (Similarity.rpCosineShrinkAudit).
    "sim_rp_shrink_audit" -> ((s, d) =>
      Similarity.rpCosineShrinkAudit(StandIn.embeddings(s, d))),

    // Per-query membership contracts for the two trained shortlists whose
    // choices no SQL oracle can replay: shape invariants every correct
    // index obeys, hash-checked row by row (Similarity.topKMemberAudit).
    "sim_pq_member_audit" -> ((s, d) =>
      Similarity.topKMemberAudit(
        Similarity.pqTopK(StandIn.embeddings(s, d), k = TopK),
        StandIn.embeddings(s, d), TopK)),

    "sim_ivfk_member_audit" -> ((s, d) =>
      Similarity.topKMemberAudit(
        Similarity.kmeansIvfTopK(StandIn.embeddings(s, d), IvfCells,
          iters = 3, k = TopK, nprobe = 2),
        StandIn.embeddings(s, d), TopK)),

    // SQ8 per-dimension scalar quantization top-k: integer codes, integer
    // shortlist, exact re-rank — the one TRAINED index deterministic
    // enough for a FULL hash-checked oracle twin, no recall floor needed
    // (Similarity.sq8TopK scaladoc on why the floor division cannot
    // straddle engines).
    "sim_sq8_topk" -> ((s, d) =>
      Similarity.sq8TopK(StandIn.embeddings(s, d), TopK, Sq8Refine)),

    // The quality claim next to the exact twin: recall@k vs brute force
    // ≥ Sq8RecallFloor, hash-checked (expected, floor_met).
    "sim_sq8_recall_audit" -> ((s, d) =>
      Similarity.sq8RecallAudit(StandIn.embeddings(s, d), TopK,
        Sq8Refine, Sq8RecallFloor)),

    // IVF × SQ8 composed index: cell equi-join candidates scanned at
    // SQ8 width, ADC shortlist, exact re-rank — nprobe=1 over the
    // deterministic seed-7 quantizer keeps the COMPOSITION fully
    // hash-checkable (Similarity.ivfSq8TopK).
    "sim_ivfsq8_topk" -> ((s, d) =>
      Similarity.ivfSq8TopK(StandIn.embeddings(s, d), IvfCells, TopK,
        Sq8Refine)),

    // Multi-probe IVF × SQ8 (r14 verdict item 5): each query searches its
    // nprobe=2 nearest inverted lists in deterministic probe order
    // (integer micro-pinned centroid dots, ties by cell id), so the
    // production probe shape stays fully hash-checkable
    // (Similarity.ivfSq8TopKProbe).
    "sim_ivfsq8_probe" -> ((s, d) =>
      Similarity.ivfSq8TopKProbe(StandIn.embeddings(s, d), IvfCells, TopK,
        Sq8Refine, IvfSq8Nprobe)),

    // The nprobe decision card: recall vs brute force at nprobe=1 and 2
    // with the 6-dp gain — fully hash-checked (all three arms are
    // engine-stable), not a pinned floor. Measured: the second probe
    // lifts recall 0.248→0.424 at sf0.01, 0.212→0.408 at sf0.1,
    // 0.364→0.592 at sf1.0 (+0.18–0.23 absolute for 2/8 of the scan) —
    // the 8-cell hyperplane quantizer splits true neighborhoods often
    // enough that nprobe=1 is the wrong operating point.
    "sim_ivfsq8_probe_gain" -> ((s, d) =>
      Similarity.ivfSq8ProbeGainReport(StandIn.embeddings(s, d), IvfCells,
        TopK, Sq8Refine, IvfSq8Nprobe)),

    // The TRAINED-index nprobe decision card (r15 verdict item 7): the
    // ivfsq8_probe_gain shape for the residual-PQ composition — recall
    // at nprobe=1 vs 2 from ONE training pass and one encoded frame, so
    // the gain isolates the probe count. The Lloyd fit has no SQL twin,
    // so the card is rows-only; the _audit twin hash-pins the measured
    // floors. Measured (scaledRefine, like the recall audit): recall
    // 0.292→0.404 at sf0.01, 0.236→0.296 at sf0.1 (different 2k-vector
    // draws), and 0.220→0.348 at sf1.0 (20k vecs, refine 40) — the
    // second probe recovers +0.06–0.13 absolute for 2/8 of the scan,
    // gain positive at every scale.
    "sim_ivfpq_probe_gain" -> ((s, d) =>
      Similarity.ivfPqProbeGainReport(StandIn.embeddings(s, d), IvfCells,
        k = TopK, nprobe = 2, refine = scaledRefine(s, d))),

    "sim_ivfpq_probe_gain_audit" -> ((s, d) =>
      Similarity.ivfPqProbeGainAudit(StandIn.embeddings(s, d), IvfCells,
        k = TopK, nprobe = 2, refine = scaledRefine(s, d),
        floor1 = IvfPqProbeFloor1, floorProbe = IvfPqProbeFloor)),
  )

  // Floors strictly under the worst cross-scale measurement (recall_1
  // 0.220 at sf1.0, recall_probe 0.296 at sf0.1): regression guards,
  // not the measurements.
  private val IvfPqProbeFloor1 = 0.15
  private val IvfPqProbeFloor = 0.25

  private val IvfSq8Nprobe = 2

  private val Sq8Refine = 4

  // Measured 1.0 at sf0.01/sf0.1 (2000 vecs) and sf1.0 (20k vecs): SQ8's
  // per-dim 1/255 grid distorts cosines by ~1e-3, far under neighbor
  // margins, and the refine·k exact re-rank absorbs the rest. 0.9 is a
  // regression floor, not the measurement.
  private val Sq8RecallFloor = 0.9

  def oracleSql: Map[String, String] = Map(
    // Embedding-space twin (Similarity.cosineHistogram): 0.1-wide integer
    // bins of the bit-identical rounded cosine over bucket-sharing pairs.
    "sim_cos_histogram" ->
      s"""WITH $prepSql, $bucketsSimSql
         |SELECT CAST(floor(${cosSql("a.vec", "a.norm", "b.vec", "b.norm")}
         |         * 10) AS INT) AS cos_bin,
         |       count(*) AS n_pairs
         |FROM bsim a
         |JOIN bsim b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |GROUP BY 1""".stripMargin,

    "sim_brute_topk" ->
      s"""WITH $prepSql, pairs AS (
         |  SELECT q.q_id, p.vec_id AS neighbor_id,
         |         ${cosSql("q.q_vec", "q.q_norm", "p.vec", "p.norm")} AS cos_sim
         |  FROM prepn p, queries q WHERE p.vec_id <> q.q_id
         |)
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM pairs)
         |WHERE rank <= $TopK""".stripMargin,

    // (sim_knn_label_eval retired round 15 — chance-level by fixture
    // construction, superseded by sim_knn_cell_eval; knnLabelEval keeps
    // its separable-cluster unit test in SimilaritySpec.)

    // Trained-IVF recall audit (Similarity.ivfRecallAudit): expected is
    // queries × k from the oracle's own draw CTE; floor_met pinned TRUE
    // (training is deterministic — driver Lloyd over the fixed hash draw).
    "sim_ivf_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    "sim_pq_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    "sim_rp_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    "sim_rp64_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    // Centroid-drift twin: the same seed-7 argmax cells (ivfCellsSql),
    // the same DECIMAL(18,9) two-level summation — half-centroids from
    // exact decimal sums, components rounded to 9 dp, dot/norms in exact
    // decimal again, one final 6-dp double round.
    "sim_centroid_drift" ->
      s"""WITH $prepSql, $ivfCellsSql, cde AS (
         |  SELECT cell, vec_id % 2 = 0 AS is_a,
         |         unnest(range(1, len(vec) + 1)) AS i, vec
         |  FROM ivf
         |), cdx AS (
         |  SELECT cell, is_a, CAST(i - 1 AS INT) AS dim,
         |         CAST(vec[CAST(i AS INT)] AS DECIMAL(18,9)) AS xd
         |  FROM cde
         |), cdd AS (
         |  SELECT cell, dim,
         |         sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
         |         sum(CASE WHEN is_a THEN xd END) AS sa,
         |         sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS nb,
         |         sum(CASE WHEN NOT is_a THEN xd END) AS sb
         |  FROM cdx GROUP BY cell, dim
         |), cdc AS (
         |  SELECT cell, na, nb,
         |         CAST(round(CAST(sa AS DOUBLE) / na, 9)
         |           AS DECIMAL(18,9)) AS ca,
         |         CAST(round(CAST(sb AS DOUBLE) / nb, 9)
         |           AS DECIMAL(18,9)) AS cb
         |  FROM cdd
         |)
         |SELECT cell, CAST(max(na) AS BIGINT) AS n_a,
         |       CAST(max(nb) AS BIGINT) AS n_b,
         |       round(CASE
         |             WHEN CAST(CAST(sum(ca * ca) AS VARCHAR) AS DOUBLE) > 0
         |              AND CAST(CAST(sum(cb * cb) AS VARCHAR) AS DOUBLE) > 0
         |             THEN CAST(CAST(sum(ca * cb) AS VARCHAR) AS DOUBLE)
         |                / sqrt(
         |                  CAST(CAST(sum(ca * ca) AS VARCHAR) AS DOUBLE)
         |                * CAST(CAST(sum(cb * cb) AS VARCHAR) AS DOUBLE))
         |             END, 6)
         |         AS cos_centroid
         |FROM cdc GROUP BY cell""".stripMargin,

    // Shrink contract: pair count from the oracle's own draw; both
    // booleans pinned TRUE (planes and draw are deterministic).
    "sim_rp_shrink_audit" ->
      s"""WITH $prepSql, qc AS (SELECT count(*) AS c FROM queries)
         |SELECT CAST(c * (c - 1) / 2 AS BIGINT) AS n_pairs,
         |       TRUE AS shrink_ok, TRUE AS mean64_ok
         |FROM qc""".stripMargin,

    // Membership contracts: every value derives from the oracle's own
    // draw CTE — per drawn query, exactly k rows with all four shape
    // invariants holding.
    "sim_pq_member_audit" ->
      s"""WITH $prepSql
         |SELECT q_id, CAST($TopK AS INT) AS n_rows, TRUE AS ranks_ok,
         |       TRUE AS members_ok, TRUE AS self_ok, TRUE AS ordered_ok
         |FROM queries""".stripMargin,

    "sim_ivfk_member_audit" ->
      s"""WITH $prepSql
         |SELECT q_id, CAST($TopK AS INT) AS n_rows, TRUE AS ranks_ok,
         |       TRUE AS members_ok, TRUE AS self_ok, TRUE AS ordered_ok
         |FROM queries""".stripMargin,

    // Cell-label eval twin: the knn twin above with labels replayed from
    // the SAME seed-7 argmax cell assignment (ivfCellsSql).
    "sim_knn_cell_eval" ->
      s"""WITH $prepSql, $ivfCellsSql, pairs AS (
         |  SELECT q.q_id, p.vec_id AS neighbor_id,
         |         ${cosSql("q.q_vec", "q.q_norm", "p.vec", "p.norm")} AS cos_sim
         |  FROM prepn p, queries q WHERE p.vec_id <> q.q_id
         |), topk AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM pairs)
         |  WHERE rank <= $TopK
         |), votes AS (
         |  SELECT t.q_id, c.cell AS n_label, count(*) AS votes
         |  FROM topk t JOIN ivf c ON c.vec_id = t.neighbor_id
         |  GROUP BY t.q_id, c.cell
         |), pred AS (
         |  SELECT q_id, n_label AS pred_label, votes FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY votes DESC, n_label) AS rnk
         |    FROM votes)
         |  WHERE rnk = 1
         |)
         |SELECT p.q_id, c.cell AS true_label, p.pred_label,
         |       CAST(p.votes AS INT) AS n_votes,
         |       (p.pred_label = c.cell) AS correct
         |FROM pred p JOIN ivf c ON c.vec_id = p.q_id""".stripMargin,

    // JL distortion contract: the oracle derives the pair count from its
    // own draw CTE and pins both error bounds TRUE.
    "sim_rp_cosine_audit" ->
      s"""WITH $prepSql, qc AS (SELECT count(*) AS c FROM queries)
         |SELECT CAST(c * (c - 1) / 2 AS BIGINT) AS n_pairs,
         |       TRUE AS mean_ok, TRUE AS max_ok
         |FROM qc""".stripMargin,

    "sim_ivfpq_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    // Probe-gain audit twin: expected from the oracle's own draw CTE,
    // the measured floors + the non-negative lift pinned TRUE
    // (Similarity.ivfPqProbeGainAudit scaladoc).
    "sim_ivfpq_probe_gain_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor1_met, TRUE AS probe_floor_met,
         |       TRUE AS gain_nonneg""".stripMargin,

    // JL random-projection twin (Similarity.randomProjection): the same
    // seed-13 Rademacher planes interpolated as literals, the same fold
    // order, the ratio recomputed from the ROUNDED components.
    "sim_rp_project" -> {
      val k = Similarity.RpDims
      val scale = math.sqrt(k.toDouble)
      val ys = Similarity.planes(k, seed = Similarity.RpSeed).zipWithIndex
        .map { case (p, i) =>
          s"round(${dotSql("vec", planeLiteral(p))} / $scale, 6) AS y$i"
        }.mkString(",\n       ")
      val yn2 = (0 until k).map(i => s"y$i * y$i").mkString(" + ")
      s"""WITH rp AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), ry AS (
         |  SELECT vec_id,
         |       $ys,
         |       ${dotSql("vec", "vec")} AS xn2
         |  FROM rp
         |), rr AS (
         |  SELECT * EXCLUDE (xn2),
         |         round(CASE WHEN xn2 > 0 THEN ($yn2) / xn2 END, 6)
         |           AS norm_ratio
         |  FROM ry
         |)
         |SELECT *,
         |       (norm_ratio IS NOT NULL
         |        AND norm_ratio >= ${Similarity.RpRatioMin}
         |        AND norm_ratio <= ${Similarity.RpRatioMax}) AS ok_distortion
         |FROM rr""".stripMargin
    },

    "sim_lsh_topk" ->
      s"""WITH $prepSql, $bucketsSimSql, pairs AS (
         |  SELECT q.q_id, p.vec_id AS neighbor_id,
         |         ${cosSql("q.q_vec", "q.q_norm", "p.vec", "p.norm")} AS cos_sim
         |  FROM bsim p
         |  JOIN (SELECT b.bucket, b.vec_id AS q_id, b.vec AS q_vec,
         |               b.norm AS q_norm
         |        FROM bsim b
         |        WHERE b.vec_id IN (SELECT q_id FROM queries)) q
         |    ON p.bucket = q.bucket AND p.vec_id <> q.q_id
         |)
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM pairs)
         |WHERE rank <= $TopK""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH $prepSql, $ivfCellsSql, pairs AS (
         |  SELECT q.q_id, p.vec_id AS neighbor_id,
         |         ${cosSql("q.q_vec", "q.q_norm", "p.vec", "p.norm")} AS cos_sim
         |  FROM ivf p
         |  JOIN (SELECT b.cell, b.vec_id AS q_id, b.vec AS q_vec,
         |               b.norm AS q_norm
         |        FROM ivf b
         |        WHERE b.vec_id IN (SELECT q_id FROM queries)) q
         |    ON p.cell = q.cell AND p.vec_id <> q.q_id
         |)
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM pairs)
         |WHERE rank <= $TopK""".stripMargin,

    // Balance twins (Similarity.clusterSizes/clusterBalance): the same
    // seed-7 argmax cell assignment (ivfCellsSql), counts + rounded
    // shares; imbalance = max·used ÷ total on exact integers.
    "sim_cluster_sizes" ->
      s"""WITH $prepSql, $ivfCellsSql, csz AS MATERIALIZED (
         |  SELECT cell, count(*) AS n_vecs FROM ivf GROUP BY cell
         |)
         |SELECT cell, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       round(n_vecs / CAST(greatest(
         |         (SELECT sum(n_vecs) FROM csz), 1) AS DOUBLE), 6)
         |         AS cell_share
         |FROM csz""".stripMargin,

    "sim_cluster_balance" ->
      s"""WITH $prepSql, $ivfCellsSql, csz AS MATERIALIZED (
         |  SELECT cell, count(*) AS n_vecs FROM ivf GROUP BY cell
         |)
         |SELECT CAST(count(*) AS INT) AS n_cells_used,
         |       CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
         |       CAST(max(n_vecs) AS BIGINT) AS max_cell_vecs,
         |       round(max(n_vecs)
         |         / CAST(greatest(sum(n_vecs), 1) AS DOUBLE), 6)
         |         AS max_cell_share,
         |       round(max(n_vecs) * count(*)
         |         / CAST(greatest(sum(n_vecs), 1) AS DOUBLE), 6)
         |         AS imbalance
         |FROM csz""".stripMargin,

    // Int8 quantization loss audit (Similarity.quantizeStats): same
    // symmetric scale, round-half-away-from-zero on both engines, and the
    // mean is the same left fold (list_reduce with a prepended 0).
    "sim_quantize" ->
      s"""WITH prep AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), scaled AS (
         |  SELECT vec_id, vec,
         |         greatest(list_max(list_transform(vec, x -> abs(x))) / 127.0,
         |                  1e-12) AS scale
         |  FROM prep
         |), errs AS (
         |  SELECT vec_id, scale, len(vec) AS n,
         |         list_transform(vec,
         |           x -> abs(round(x / scale, 0) * scale - x)) AS e
         |  FROM scaled
         |)
         |SELECT vec_id, round(scale, 6) AS scale,
         |       round(list_max(e), 6) AS max_abs_err,
         |       round(list_reduce(list_prepend(CAST(0 AS DOUBLE), e),
         |             (a, x) -> a + x) / greatest(n, 1), 6) AS mean_abs_err
         |FROM errs""".stripMargin,

    // Density-outlier twin (Similarity.densityOutliers): the
    // sim_cosine_neardup pair CTEs folded to per-vector degrees.
    "sim_density_outliers" ->
      s"""WITH $prepSql, $bucketsSimSql, dpairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bsim a
         |  JOIN bsim b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.vec", "a.norm", "b.vec", "b.norm")}
         |        >= $NearDupCosine
         |), ddeg AS (
         |  SELECT vec_id, count(*) AS n_neighbors FROM (
         |    SELECT a_id AS vec_id FROM dpairs
         |    UNION ALL SELECT b_id FROM dpairs)
         |  GROUP BY vec_id
         |)
         |SELECT e.vec_id,
         |       coalesce(d.n_neighbors, 0) AS n_neighbors,
         |       coalesce(d.n_neighbors, 0) < 2 AS is_outlier
         |FROM embeddings e LEFT JOIN ddeg d ON d.vec_id = e.vec_id""".stripMargin,

    "sim_cosine_neardup" ->
      s"""WITH $prepSql, $bucketsSimSql
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       ${cosSql("a.vec", "a.norm", "b.vec", "b.norm")} AS cos_sim
         |FROM bsim a
         |JOIN bsim b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.vec", "a.norm", "b.vec", "b.norm")} >= $NearDupCosine"""
        .stripMargin,

    // Embedding-space CC twin (Similarity.cosineNearDupClusters): the
    // cosine pair set above fed through the same recursive-CTE components
    // shape as dedup_clusters — an independent algorithm from the engine's
    // label-propagation loop.
    // cpairs is MATERIALIZED: a recursive term re-evaluates every CTE it
    // references per iteration in DuckDB, and re-running the cosine
    // bucket-join once per closure round made the oracle infeasible at
    // the sf1.0 sweep's 20k vectors (measured 25× on a synthetic twin;
    // the hint changes evaluation only, never results).
    "sim_neardup_clusters" ->
      s"""WITH RECURSIVE $prepSql, $bucketsSimSql, cpairs AS MATERIALIZED (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bsim a
         |  JOIN bsim b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.vec", "a.norm", "b.vec", "b.norm")}
         |          >= $NearDupClusterCosine
         |), cedges AS (
         |  SELECT a_id, b_id FROM cpairs
         |  UNION ALL
         |  SELECT b_id, a_id FROM cpairs
         |), creach(vec_id, label) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.a_id, r.label FROM cedges e JOIN creach r
         |    ON r.vec_id = e.b_id
         |)
         |SELECT vec_id, min(label) AS cluster_id
         |FROM creach GROUP BY vec_id""".stripMargin,

    // SQ8 FULL twin (Similarity.sq8Codes / sq8TopK): the same micro-unit
    // pin, per-dim [min, max] grid, integer-floor codes, the same fixed
    // IEEE decode tree, 6-dp rounded reconstructed-cosine shortlist at
    // refine·k (vec_id tie-break), and exact re-rank — every stage either
    // pure integer or the engine-stable float pin, so the trained index
    // hash-matches row for row.
    "sim_sq8_topk" ->
      s"""WITH $prepSql, $sq8Sql, sq8cand AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, c.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY round(
         |               ${dotSql("q.q_vec", "c.recon")}
         |               / (q.q_norm * greatest(c.rnorm, 1e-12)), 6) DESC,
         |             c.vec_id) AS rk
         |    FROM sq8r c, queries q WHERE c.vec_id <> q.q_id)
         |  WHERE rk <= ${Sq8Refine * TopK}
         |), sq8ver AS (
         |  SELECT s.q_id, s.neighbor_id,
         |         ${cosSql("pq.vec", "pq.norm", "pn.vec", "pn.norm")} AS cos_sim
         |  FROM sq8cand s
         |  JOIN prepn pq ON pq.vec_id = s.q_id
         |  JOIN prepn pn ON pn.vec_id = s.neighbor_id
         |)
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM sq8ver)
         |WHERE rank <= $TopK""".stripMargin,

    // SQ8 recall audit (Similarity.sq8RecallAudit): expected from the
    // oracle's own draw CTE, floor_met pinned TRUE (the index is fully
    // deterministic; the topk twin above checks the rows themselves).
    "sim_sq8_recall_audit" ->
      s"""WITH $prepSql
         |SELECT CAST((SELECT count(*) FROM queries) * $TopK AS BIGINT)
         |         AS expected,
         |       TRUE AS floor_met""".stripMargin,

    // IVF×SQ8 twin (Similarity.ivfSq8TopK): the seed-7 argmax cell join
    // of sim_ivf_topk, the SQ8 decode of sim_sq8_topk, the same 6-dp ADC
    // shortlist at refine·k, exact re-rank.
    "sim_ivfsq8_topk" ->
      s"""WITH $prepSql, $ivfCellsSql, $sq8Sql, ivq AS (
         |  SELECT b.cell, b.vec_id AS q_id, b.vec AS q_vec, b.norm AS q_norm
         |  FROM ivf b WHERE b.vec_id IN (SELECT q_id FROM queries)
         |), iscand AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, p.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY round(
         |               ${dotSql("q.q_vec", "r.recon")}
         |               / (q.q_norm * greatest(r.rnorm, 1e-12)), 6) DESC,
         |             p.vec_id) AS rk
         |    FROM ivf p
         |    JOIN ivq q ON p.cell = q.cell AND p.vec_id <> q.q_id
         |    JOIN sq8r r ON r.vec_id = p.vec_id)
         |  WHERE rk <= ${Sq8Refine * TopK}
         |), isver AS (
         |  SELECT s.q_id, s.neighbor_id,
         |         ${cosSql("pq.vec", "pq.norm", "pn.vec", "pn.norm")} AS cos_sim
         |  FROM iscand s
         |  JOIN prepn pq ON pq.vec_id = s.q_id
         |  JOIN prepn pn ON pn.vec_id = s.neighbor_id
         |)
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
         |  FROM isver)
         |WHERE rank <= $TopK""".stripMargin,

    // Multi-probe twin (Similarity.ivfSq8TopKProbe): the probe CTE ranks
    // cells by the NEGATED micro-pinned raw centroid dot (ties cid),
    // then the same ADC shortlist + exact re-rank over the probed union.
    "sim_ivfsq8_probe" ->
      s"""WITH $prepSql, $ivfCellsSql, $sq8Sql,
         |${ivfProbeSql("ivp", IvfSq8Nprobe)},
         |${ivfSq8ArmSql("ivp", "mp", Sq8Refine * TopK)}
         |SELECT q_id, rank, neighbor_id, cos_sim FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS INT)
         |      AS rank
         |  FROM mpver)
         |WHERE rank <= $TopK""".stripMargin,

    // nprobe decision-card twin: BOTH probe arms and the brute-force
    // baseline replayed, recalls and their 6-dp gain computed from the
    // same rounded intermediates as the engine.
    "sim_ivfsq8_probe_gain" ->
      s"""WITH $prepSql, $ivfCellsSql, $sq8Sql,
         |${ivfProbeSql("ivp1", 1)},
         |${ivfProbeSql("ivp2", IvfSq8Nprobe)},
         |${ivfSq8ArmSql("ivp1", "g1", Sq8Refine * TopK)},
         |${ivfSq8ArmSql("ivp2", "g2", Sq8Refine * TopK)},
         |g1top AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM g1ver)
         |  WHERE rank <= $TopK
         |), g2top AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM g2ver)
         |  WHERE rank <= $TopK
         |), bfp AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q.q_id, p.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.q_id ORDER BY
         |             ${cosSql("q.q_vec", "q.q_norm", "p.vec", "p.norm")}
         |               DESC, p.vec_id) AS rk
         |    FROM prepn p, queries q WHERE p.vec_id <> q.q_id)
         |  WHERE rk <= $TopK
         |), agg AS (
         |  SELECT (SELECT count(*) FROM bfp) AS expected,
         |         (SELECT count(*) FROM g1top t
         |            JOIN bfp b USING (q_id, neighbor_id)) AS h1,
         |         (SELECT count(*) FROM g2top t
         |            JOIN bfp b USING (q_id, neighbor_id)) AS h2
         |)
         |SELECT CAST(expected AS BIGINT) AS expected,
         |       CAST($IvfSq8Nprobe AS INT) AS nprobe,
         |       round(h1 / CAST(expected AS DOUBLE), 6) AS recall_1,
         |       round(h2 / CAST(expected AS DOUBLE), 6) AS recall_probe,
         |       round(round(h2 / CAST(expected AS DOUBLE), 6)
         |             - round(h1 / CAST(expected AS DOUBLE), 6), 6) AS gain
         |FROM agg""".stripMargin,
  )

  /** Probe CTE `name(q_id, q_vec, q_norm, cell)`: the drawn queries fanned
    * out to their `nprobe` nearest cells by `-round(raw_dot·10⁶)` (a
    * BIGINT — no −0.0 seam), ties by cell id, mirroring
    * Similarity.ivfProbeCells. */
  private def ivfProbeSql(name: String, nprobe: Int): String = {
    val rawDots = Similarity.planes(IvfCells, seed = 7L)
      .map(p => dotSql("vec", planeLiteral(p)))
      .mkString("[", ",\n    ", "]")
    s"""$name AS (
       |  SELECT q_id, q_vec, q_norm, CAST(cid AS INT) AS cell FROM (
       |    SELECT vec_id AS q_id, vec AS q_vec, norm AS q_norm,
       |           unnest(range(1, ${IvfCells + 1})) AS cid,
       |           unnest($rawDots) AS dd
       |    FROM prepn WHERE vec_id IN (SELECT q_id FROM queries))
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY -CAST(round(dd * 1000000) AS BIGINT), cid) <= $nprobe
       |)""".stripMargin
  }

  /** One IVF×SQ8 search arm over probe CTE `probe`: ADC shortlist of
    * `cut` then exact verification — ends at CTE `<prefix>ver(q_id,
    * neighbor_id, cos_sim)` for the caller's final top-k window. */
  private def ivfSq8ArmSql(
      probe: String, prefix: String, cut: Int): String =
    s"""${prefix}cand AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q.q_id, p.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY round(
       |               ${dotSql("q.q_vec", "r.recon")}
       |               / (q.q_norm * greatest(r.rnorm, 1e-12)), 6) DESC,
       |             p.vec_id) AS rk
       |    FROM ivf p
       |    JOIN $probe q ON p.cell = q.cell AND p.vec_id <> q.q_id
       |    JOIN sq8r r ON r.vec_id = p.vec_id)
       |  WHERE rk <= $cut
       |), ${prefix}ver AS (
       |  SELECT s.q_id, s.neighbor_id,
       |         ${cosSql("pq.vec", "pq.norm", "pn.vec", "pn.norm")} AS cos_sim
       |  FROM ${prefix}cand s
       |  JOIN prepn pq ON pq.vec_id = s.q_id
       |  JOIN prepn pn ON pn.vec_id = s.neighbor_id
       |)""".stripMargin

  // DuckDB twin of Similarity.sq8Codes: micro-unit pin, per-dim bounds
  // collapsed to one (mns, mxs) row, integer-floor 256-level codes, the
  // same fixed decode tree (mn + c·span/255)/10⁶ and its left-fold norm.
  private val sq8Sql =
    s"""sq8m AS (
       |  SELECT vec_id,
       |         list_transform(vec,
       |           x -> CAST(round(x * 1000000) AS BIGINT)) AS m
       |  FROM prepn
       |), sq8b AS (
       |  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
       |  FROM (
       |    SELECT CAST(i.range AS INT) AS pos,
       |           min(m[CAST(i.range AS INT)]) AS mn,
       |           max(m[CAST(i.range AS INT)]) AS mx
       |    FROM sq8m, range(1, ${Similarity.Dim + 1}) i
       |    GROUP BY 1)
       |), sq8c AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |           i -> least(255, CAST(floor(
       |             CAST((m[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255
       |               AS DOUBLE)
       |             / greatest(mxs[CAST(i AS INT)] - mns[CAST(i AS INT)], 1))
       |             AS BIGINT))) AS codes
       |  FROM sq8m, sq8b
       |), sq8d AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |           i -> (CAST(mns[CAST(i AS INT)] AS DOUBLE)
       |                 + CAST(codes[CAST(i AS INT)]
       |                        * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)])
       |                     AS DOUBLE) / 255.0) / 1000000.0) AS recon
       |  FROM sq8c, sq8b
       |), sq8r AS (
       |  SELECT vec_id, recon,
       |         sqrt(list_reduce(list_transform(recon, x -> x * x),
       |              (a, b) -> a + b)) AS rnorm
       |  FROM sq8d
       |)""".stripMargin
}
