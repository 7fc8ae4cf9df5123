package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** Statistics/profiling family: moments, quantiles, correlation, chi-square, KS, Benford, EWMA/forecast, HLL distincts, profiling and constraints.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesStat {

  private def profileEvents(s: SparkSession, dir: String): DataFrame =
    Profile.profile(StandIn.events(s, dir))

  // The 100 TB default: HLL distincts, no Expand, no per-column reshuffle
  // of the fact table. Sketch output → rows-only driver check; the exact
  // twin above keeps the bit-for-bit oracle.
  private def profileEventsApprox(s: SparkSession, dir: String): DataFrame =
    Profile.profile(StandIn.events(s, dir), exact = false)

  private def aggDistinctUsers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.dailyActiveUsers(StandIn.events(s, dir))

  private def aggDistinctHll(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.dailyActiveUsersApprox(StandIn.events(s, dir))

  private val SkewTopK = 10

  private def profileKeySkew(s: SparkSession, dir: String): DataFrame =
    Profile.keySkew(StandIn.events(s, dir), "event_type", SkewTopK)

  // (column, is-numeric) of StandIn.events — drives the oracle's UNION.
  private val ProfileEventCols = Seq(
    "event_id" -> true, "ts" -> false, "user_id" -> true,
    "event_type" -> false, "value" -> true, "props" -> false)

  // Smoothing factor shared by the EWMA query and its oracle fold.
  private val EwmaAlpha = 0.3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_events"      -> ((s, d) => profileEvents(s, d)),

    "profile_events_approx" -> ((s, d) => profileEventsApprox(s, d)),

    "profile_events_audit" -> ((s, d) =>
      Profile.profileAudit(StandIn.events(s, d))),

    "profile_key_skew"    -> ((s, d) => profileKeySkew(s, d)),

    // Per-dimension embedding health profile: n/mean/std/min/max per
    // coordinate, DECIMAL-exact sums (Profile.embeddingProfile).
    "profile_embeddings"  -> ((s, d) =>
      Profile.embeddingProfile(StandIn.embeddings(s, d))),

    "profile_constraints" -> ((s, d) =>
      Profile.checkConstraints(StandIn.events(s, d))),

    // HLL-uniqueness variant — engine-specific sketch metric → rows-only
    // (row count = the fixed check list; booleans deterministic, pinned
    // by ProfileSpec).
    "profile_constraints_approx" -> ((s, d) =>
      Profile.checkConstraints(StandIn.events(s, d), exact = false)),

    "agg_distinct_users"  -> ((s, d) => aggDistinctUsers(s, d)),

    // HLL++ sketch counts — engine-specific, so no DuckDB twin; rows-only
    // driver check (group keys are deterministic, so the row COUNT matches
    // the exact variant) + an error-bound unit test in OlapSpec.
    "agg_distinct_hll"    -> ((s, d) => aggDistinctHll(s, d)),

    // Bounded-error contract for the sketch above, fully oracle-checked:
    // exact keys/counts + a within-3·rsd boolean the oracle pins to TRUE.
    "agg_distinct_hll_audit" -> ((s, d) =>
      graft.ops.Olap.dailyActiveUsersAudit(StandIn.events(s, d))),

    // DataSketches HLL day→week union rollup — deterministic but
    // engine-specific → rows-only; the audit twin is the contract.
    "agg_distinct_hll_rollup" -> ((s, d) =>
      graft.ops.Olap.weeklyActiveUsersRollup(StandIn.events(s, d))),

    "agg_distinct_hll_rollup_audit" -> ((s, d) =>
      graft.ops.Olap.weeklyActiveUsersRollupAudit(StandIn.events(s, d))),

    "stat_quantile_bins"  -> ((s, d) =>
      Profile.quantileBins(StandIn.events(s, d))),

    // KLL-ish percentile sketch face — engine-specific edges → rows-only
    // (bin count deterministic; ProfileSpec bounds the drift vs exact).
    "stat_quantile_bins_approx" -> ((s, d) =>
      Profile.quantileBins(StandIn.events(s, d), exact = false)),

    "stat_moments"        -> ((s, d) =>
      Profile.valueMoments(StandIn.table(s, d, "lineitem"))),

    "stat_pair_moments"   -> ((s, d) =>
      Profile.pairMoments(StandIn.table(s, d, "lineitem"))),

    "stat_zscore"         -> ((s, d) =>
      Profile.zscoreOutliers(StandIn.events(s, d))),

    "stat_mad_outliers"   -> ((s, d) =>
      Profile.robustOutliers(StandIn.events(s, d))),

    "stat_corr_matrix"    -> ((s, d) =>
      Profile.correlationMatrix(StandIn.table(s, d, "lineitem"))),

    "stat_chisquare"      -> ((s, d) =>
      Profile.chiSquareCells(StandIn.events(s, d),
        col("event_type"), weekday(col("ts")).cast("int"))),

    // Exact two-sample Kolmogorov-Smirnov drift test between two event
    // types' value distributions; running CDFs over the bounded
    // distinct-value cell table (Profile.ksTest).
    "stat_ks_test"        -> ((s, d) =>
      Profile.ksTest(StandIn.events(s, d))),

    "stat_ttest"          -> ((s, d) =>
      Profile.tTest(StandIn.events(s, d))),

    // Population Stability Index of the value distribution between the
    // first and second half of the event timeline — the scorecard drift
    // screen (Profile.psi scaladoc: fixed bins, Laplace smoothing,
    // integer nano-unit terms for cross-engine bit-stability).
    "stat_psi"            -> ((s, d) =>
      Profile.psi(StandIn.events(s, d))),

    "stat_autocorr"       -> ((s, d) =>
      Profile.autocorrelation(StandIn.events(s, d))),

    "stat_cramers_v"      -> ((s, d) =>
      Profile.chiSquareStat(StandIn.events(s, d),
        col("event_type"), weekday(col("ts")).cast("int"))),

    // Incremental aggregate maintenance: per-key state merged with the
    // delta; the oracle is the FULL recompute, so the hash check proves
    // the merge law (Olap.incrementalMerge).
    "agg_incremental_merge" -> ((s, d) =>
      graft.ops.Olap.incrementalMerge(StandIn.events(s, d))),

    // Seasonal-naive forecast-baseline eval: MAE/MAPE of the week-back
    // predictor per type, composed on weekOverWeek's daily table
    // (Olap.seasonalNaiveEval).
    "ts_forecast_eval"    -> ((s, d) =>
      graft.ops.Olap.seasonalNaiveEval(StandIn.events(s, d))),

    // Benford first-digit screen: observed vs log10(1+1/d) expectation
    // per digit (Olap.benfordScreen).
    "stat_benford"        -> ((s, d) =>
      graft.ops.Olap.benfordScreen(StandIn.events(s, d))),

    "ts_resample_interp"  -> ((s, d) =>
      graft.ops.Resample.hourlyInterpolate(StandIn.eventsByUser(s, d))),

    "ts_resample_ffill"   -> ((s, d) =>
      graft.ops.Resample.hourlyFfill(StandIn.eventsByUser(s, d))),

    "ts_ewma"             -> ((s, d) =>
      graft.ops.Resample.ewma(StandIn.events(s, d), EwmaAlpha)),

    "stat_winsorize"      -> ((s, d) =>
      graft.ops.Resample.winsorize(StandIn.events(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    // Profiler twin (Profile.profile): one UNION ALL branch per column —
    // the declarative restatement of the one-pass Expand aggregate.
    "profile_events" -> {
      val branches = ProfileEventCols.map { case (c, num) =>
        val mn = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       $mn AS min_value, $mx AS max_value FROM ev""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
         |         event_type, value, props
         |  FROM events
         |)
         |$branches""".stripMargin
    },

    // HLL-profile audit twin (Profile.profileAudit): exact per-column
    // stats + the within-3·rsd contract the oracle pins to TRUE.
    "profile_events_audit" -> {
      val branches = ProfileEventCols.map { case (c, num) =>
        val mn = if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       $mn AS min_value, $mx AS max_value,
           |       TRUE AS within_tol FROM ev""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
         |         event_type, value, props
         |  FROM events
         |)
         |$branches""".stripMargin
    },

    // Key-skew twin (Profile.keySkew): identical top-k, ties by key value.
    "profile_key_skew" ->
      s"""WITH c AS (
         |  SELECT CAST(event_type AS VARCHAR) AS key_value,
         |         count(*) AS n
         |  FROM events GROUP BY event_type
         |), tot AS (SELECT count(*) AS t FROM events)
         |SELECT CAST(row_number() OVER (ORDER BY n DESC, key_value) AS INT)
         |         AS rank,
         |       key_value, n,
         |       round(n / CAST(greatest(t, 1) AS DOUBLE), 6) AS share
         |FROM c, tot
         |ORDER BY n DESC, key_value LIMIT $SkewTopK""".stripMargin,

    // Embedding-profile twin (Profile.embeddingProfile): same DECIMAL
    // staging of the sums, same variance formula and clamps.
    "profile_embeddings" ->
      """WITH pe0 AS (
        |  SELECT unnest(range(1, len(embedding) + 1)) AS i, embedding
        |  FROM embeddings
        |), pe AS (
        |  SELECT CAST(i - 1 AS INT) AS dim,
        |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        |  FROM pe0
        |), pa AS (
        |  SELECT dim, count(*) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(x AS DECIMAL(18,9))
        |                   * CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS s2,
        |         min(x) AS mn, max(x) AS mx
        |  FROM pe GROUP BY dim
        |), pv AS (
        |  SELECT dim, n, s1, s2, mn, mx,
        |         CASE WHEN n > 1 THEN greatest(
        |           (s2 - s1 * s1 / n) / (n - 1), 0.0) END AS var_x
        |  FROM pa
        |)
        |SELECT dim, n,
        |       round(s1 / n, 6) AS mean,
        |       round(var_x, 6) AS variance,
        |       round(sqrt(var_x), 6) AS std,
        |       round(mn, 6) AS min_x,
        |       round(mx, 6) AS max_x
        |FROM pv""".stripMargin,

    // Moments twin (Profile.valueMoments): the same exact decimal Σx/Σx²,
    // the same one double expression for the derived moments.
    "stat_moments" ->
      """SELECT l_returnflag, n,
        |       round(s1 / n, 6) AS mean_qty,
        |       round(CASE WHEN n > 1
        |             THEN greatest((s2 - s1 * s1 / n) / (n - 1), 0)
        |             END, 6) AS var_qty,
        |       round(sqrt(CASE WHEN n > 1
        |             THEN greatest((s2 - s1 * s1 / n) / (n - 1), 0)
        |             END), 6) AS std_qty
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) *
        |                  CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s2
        |  FROM lineitem GROUP BY l_returnflag
        |)""".stripMargin,

    // Pair-moments twin (Profile.pairMoments): the same exact decimal
    // Σx/Σy/Σxy/Σx²/Σy², the same one double expression for cov/corr.
    "stat_pair_moments" ->
      """SELECT l_returnflag, n,
        |       round(CASE WHEN n > 1
        |             THEN (sxy - sx * sy / n) / (n - 1) END, 4)
        |         AS cov_qty_price,
        |       round(CASE WHEN n > 1
        |              AND greatest((sxx - sx * sx / n) / (n - 1), 0) > 0
        |              AND greatest((syy - sy * sy / n) / (n - 1), 0) > 0
        |             THEN ((sxy - sx * sy / n) / (n - 1)) /
        |                  sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0) *
        |                       greatest((syy - sy * sy / n) / (n - 1), 0))
        |             END, 6) AS corr_qty_price
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) *
        |                  CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)""".stripMargin,

    // Z-score twin (Profile.zscoreOutliers): exact decimal(14,4) sums →
    // identical mean/std doubles → identical flagged set on both engines.
    "stat_zscore" ->
      """WITH stats AS (
        |  SELECT event_type AS t,
        |         s1 / n AS mean_v,
        |         sqrt(CASE WHEN n > 1
        |              THEN greatest((s2 - s1 * s1 / n) / (n - 1), 0)
        |              END) AS std_v
        |  FROM (
        |    SELECT event_type, count(*) AS n,
        |           CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS s1,
        |           CAST(sum(CAST(value AS DECIMAL(14,4)) *
        |                    CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS s2
        |    FROM events WHERE value IS NOT NULL GROUP BY event_type
        |  )
        |)
        |SELECT event_id, event_type, value,
        |       round((value - mean_v) / std_v, 6) AS zscore
        |FROM events JOIN stats ON event_type = t
        |WHERE value IS NOT NULL AND std_v > 0
        |  AND abs((value - mean_v) / std_v) > 3.0""".stripMargin,

    // Robust-outlier twin (Profile.robustOutliers): quantile_cont uses
    // the same (n−1)·q linear interpolation as Spark's exact percentile;
    // both engines compare the ROUNDED score against the cut so a
    // last-ulp median difference can't flip a boundary row.
    "stat_mad_outliers" ->
      """WITH v AS (
        |  SELECT event_id, event_type, value
        |  FROM events WHERE value IS NOT NULL
        |), med AS (
        |  SELECT event_type AS t1, quantile_cont(value, 0.5) AS med_v
        |  FROM v GROUP BY event_type
        |), mad AS (
        |  SELECT v.event_type AS t2,
        |         quantile_cont(abs(v.value - m.med_v), 0.5) AS mad_v
        |  FROM v JOIN med m ON v.event_type = m.t1
        |  GROUP BY v.event_type
        |)
        |SELECT v.event_id, v.event_type, v.value,
        |       round(0.6745 * (v.value - m.med_v) / d.mad_v, 6) AS robust_z
        |FROM v JOIN med m ON v.event_type = m.t1
        |       JOIN mad d ON v.event_type = d.t2
        |WHERE d.mad_v > 0
        |  AND abs(round(0.6745 * (v.value - m.med_v) / d.mad_v, 6)) > 3.5"""
        .stripMargin,

    // Correlation-matrix twin (Profile.correlationMatrix): the same exact
    // decimal sums for every column and pair, the same one double
    // expression per correlation, one UNION ALL branch per pair.
    "stat_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (i, j)
      def dsum(c: String) =
        s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"
      // DuckDB does not auto-widen decimal products (18+18 > 38 errors);
      // 19,4 × 19,4 → DECIMAL(38,8), the same exact product Spark computes.
      def dprod(a: String, b: String) =
        s"CAST(sum(CAST($a AS DECIMAL(19,4)) * CAST($b AS DECIMAL(19,4)))" +
          " AS DOUBLE)"
      val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq(s"${dsum(c)} AS sx_$i", s"${dprod(c, c)} AS ss_$i")
      } ++ pairs.map { case (i, j) =>
        s"${dprod(cols(i), cols(j))} AS sp_${i}_$j"
      }
      val branches = pairs.map { case (i, j) =>
        val vx = s"greatest((ss_$i - sx_$i * sx_$i / n) / (n - 1), 0)"
        val vy = s"greatest((ss_$j - sx_$j * sx_$j / n) / (n - 1), 0)"
        val cov = s"(sp_${i}_$j - sx_$i * sx_$j / n) / (n - 1)"
        s"""SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y, n,
           |       round(CASE WHEN n > 1 AND $vx > 0 AND $vy > 0
           |             THEN $cov / sqrt($vx * $vy) END, 6) AS corr
           |FROM s""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (
         |  SELECT count(*) AS n,
         |         ${aggs.mkString(",\n         ")}
         |  FROM lineitem
         |)
         |$branches""".stripMargin
    },

    // PSI twin (Profile.psi): same integer-µs midpoint cut, same fixed
    // bins + Laplace smoothing, terms rounded to integer nano-units
    // before the sum so float ordering and ln ulps cannot flip a bit.
    "stat_psi" ->
      s"""WITH plive AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), pbounds AS (
        |  SELECT min(us) AS lo, max(us) AS hi FROM plive
        |), pbinned AS (
        |  SELECT greatest(least(CAST(floor(v / ${Profile.PsiBinWidth})
        |           AS INT), ${Profile.PsiBins - 1}), 0) AS bin,
        |         us <= lo + (hi - lo) // 2 AS is_base
        |  FROM plive, pbounds
        |), pcells AS (
        |  SELECT bin,
        |         sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS nb
        |  FROM pbinned GROUP BY bin
        |), pspine AS (
        |  SELECT CAST(range AS INT) AS bin FROM range(0, ${Profile.PsiBins})
        |), pfull AS (
        |  SELECT s.bin, coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM pspine s LEFT JOIN pcells c ON c.bin = s.bin
        |), ptot AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS ta,
        |         CAST(sum(nb) AS BIGINT) AS tb
        |  FROM pfull
        |), pterms AS (
        |  SELECT CAST(round(((na + 0.5) / (ta + ${Profile.PsiBins / 2.0})
        |           - (nb + 0.5) / (tb + ${Profile.PsiBins / 2.0}))
        |         * ln(((na + 0.5) / (ta + ${Profile.PsiBins / 2.0}))
        |              / ((nb + 0.5) / (tb + ${Profile.PsiBins / 2.0})))
        |         * 1e9) AS BIGINT) AS t_nano,
        |         ta, tb
        |  FROM pfull, ptot
        |)
        |SELECT max(ta) AS n_base, max(tb) AS n_cur,
        |       CAST(count(*) AS INT) AS n_bins,
        |       round(sum(t_nano) / 1e9, 6) AS psi,
        |       (round(sum(t_nano) / 1e9, 6) < 0.1) AS stable,
        |       (round(sum(t_nano) / 1e9, 6) >= 0.25) AS drifted
        |FROM pterms""".stripMargin,

    // KS twin (Profile.ksTest): same cell table, same running-CDF max,
    // same classical 5% critical value; D and crit compared at their
    // rounded values so the verdict is bit-stable.
    "stat_ks_test" ->
      """WITH kf AS (
        |  SELECT value, event_type FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        |), kc AS (
        |  SELECT value,
        |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS nb
        |  FROM kf GROUP BY value
        |), kt AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS ta,
        |         CAST(sum(nb) AS BIGINT) AS tb,
        |         count(*) AS n_values
        |  FROM kc
        |), kr AS (
        |  SELECT sum(na) OVER (ORDER BY value) AS ca,
        |         sum(nb) OVER (ORDER BY value) AS cb
        |  FROM kc
        |), kd AS (
        |  SELECT max(abs(ca / CAST(ta AS DOUBLE) - cb / CAST(tb AS DOUBLE)))
        |           AS d,
        |         max(ta) AS ta, max(tb) AS tb, max(n_values) AS n_values
        |  FROM kr, kt
        |)
        |SELECT ta AS n_a, tb AS n_b, n_values,
        |       round(d, 6) AS ks_d,
        |       round(1.358 * sqrt((ta + tb)
        |             / (CAST(ta AS DOUBLE) * tb)), 6) AS crit_05,
        |       (round(d, 6) <= round(1.358 * sqrt((ta + tb)
        |             / (CAST(ta AS DOUBLE) * tb)), 6)) AS same_dist_05
        |FROM kd""".stripMargin,

    // Welch t-test twin (Profile.tTest): six exact decimal sums, then the
    // identical double expressions in the same association order; the
    // verdict compares the ROUNDED t.
    "stat_ttest" ->
      """WITH s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(14,4)) END) AS DOUBLE) AS sa,
        |    CAST(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(14,4)) *
        |           CAST(value AS DECIMAL(14,4)) END) AS DOUBLE) AS qa,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(14,4)) END) AS DOUBLE) AS sb,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(14,4)) *
        |           CAST(value AS DECIMAL(14,4)) END) AS DOUBLE) AS qb
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        |), d AS (
        |  SELECT na, nb, sa / na AS ma, sb / nb AS mb,
        |         greatest((qa - sa * sa / na) / (na - 1), 0) / na AS ea,
        |         greatest((qb - sb * sb / nb) / (nb - 1), 0) / nb AS eb
        |  FROM s
        |)
        |SELECT na AS n_a, nb AS n_b,
        |       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |       round((ma - mb) / sqrt(ea + eb), 6) AS t_stat,
        |       round((ea + eb) * (ea + eb) /
        |             (ea * ea / (na - 1) + eb * eb / (nb - 1)), 6)
        |         AS welch_df,
        |       (abs(round((ma - mb) / sqrt(ea + eb), 6)) <= 1.96)
        |         AS same_mean_05
        |FROM d""".stripMargin,

    // Autocorrelation twin (Profile.autocorrelation): the same hourly
    // cells, the same three lag shifts (UNION ALL standing in for
    // stack), exact decimal sums, one double Pearson expression.
    "stat_autocorr" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         round(CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE)
        |               / count(*), 6) AS x
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), lagged AS (
        |  SELECT event_type, x,
        |         lag(x, 1) OVER w AS x1,
        |         lag(x, 2) OVER w AS x2,
        |         lag(x, 3) OVER w AS x3
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h)
        |), stacked AS (
        |  SELECT event_type, 1 AS lag_h, x, x1 AS y FROM lagged
        |  UNION ALL SELECT event_type, 2, x, x2 FROM lagged
        |  UNION ALL SELECT event_type, 3, x, x3 FROM lagged
        |), f AS (
        |  SELECT * FROM stacked WHERE y IS NOT NULL
        |), sums AS (
        |  SELECT event_type, lag_h,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(18,6)) *
        |                  CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6)) *
        |                  CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS syy,
        |         CAST(sum(CAST(x AS DECIMAL(18,6)) *
        |                  CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sxy
        |  FROM f GROUP BY 1, 2
        |)
        |SELECT event_type, lag_h, n AS n_pairs,
        |       round(CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
        |                   AND CAST(n AS DOUBLE) * syy - sy * sy > 0
        |             THEN (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |                  sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |                       (CAST(n AS DOUBLE) * syy - sy * sy))
        |             END, 6) AS autocorr
        |FROM sums""".stripMargin,

    // χ² cell twin (Profile.chiSquareCells): same exact integer marginals,
    // same one double expression per cell. Spark weekday (0 = Monday) ≡
    // DuckDB isodow − 1.
    "stat_chisquare" ->
      """WITH obs AS (
        |  SELECT event_type AS a, CAST(isodow(ts) - 1 AS INT) AS b,
        |         count(*) AS observed
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), rt AS (
        |  SELECT a, CAST(sum(observed) AS BIGINT) AS row_total
        |  FROM obs GROUP BY a
        |), ct AS (
        |  SELECT b, CAST(sum(observed) AS BIGINT) AS col_total
        |  FROM obs GROUP BY b
        |), n AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs)
        |SELECT a, b, observed,
        |       round(CAST(row_total AS DOUBLE) * col_total /
        |               CAST(n_total AS DOUBLE), 6) AS expected,
        |       round(pow(observed - CAST(row_total AS DOUBLE) * col_total /
        |               CAST(n_total AS DOUBLE), 2) /
        |             (CAST(row_total AS DOUBLE) * col_total /
        |               CAST(n_total AS DOUBLE)), 6)
        |         AS contrib
        |FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n""".stripMargin,

    // χ² scalar twin (Profile.chiSquareStat): statistic, dof, Cramér's V
    // from the same unrounded cell contributions.
    "stat_cramers_v" ->
      """WITH obs AS (
        |  SELECT event_type AS a, CAST(isodow(ts) - 1 AS INT) AS b,
        |         count(*) AS observed
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), rt AS (
        |  SELECT a, CAST(sum(observed) AS BIGINT) AS row_total
        |  FROM obs GROUP BY a
        |), ct AS (
        |  SELECT b, CAST(sum(observed) AS BIGINT) AS col_total
        |  FROM obs GROUP BY b
        |), n AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs),
        |cells AS (
        |  SELECT a, b, n_total,
        |         pow(observed - CAST(row_total AS DOUBLE) * col_total /
        |             CAST(n_total AS DOUBLE), 2) /
        |         (CAST(row_total AS DOUBLE) * col_total /
        |             CAST(n_total AS DOUBLE)) AS contrib
        |  FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n
        |)
        |SELECT round(sum(contrib), 6) AS chi2,
        |       (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
        |       max(n_total) AS n,
        |       round(sqrt(sum(contrib) /
        |             (max(n_total) *
        |              (least(count(DISTINCT a), count(DISTINCT b)) - 1))), 6)
        |         AS cramers_v
        |FROM cells""".stripMargin,

    // Constraint-suite twin (Profile.checkConstraints, exact face): one
    // metrics CTE, one UNION ALL row per check — same metric expressions,
    // same pass predicates.
    "profile_constraints" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         count(user_id) AS nn_user, count(value) AS nn_value,
        |         count(DISTINCT event_id) AS nd_id,
        |         count(CASE WHEN event_type IN
        |           ('click','error','purchase','signup','view')
        |           THEN 1 END) AS in_dom,
        |         count(CASE WHEN value > 0 AND value <= 1000
        |           THEN 1 END) AS in_rng
        |  FROM events
        |)
        |SELECT 'row_count' AS check_name, '*' AS column_name,
        |       round(n, 6) AS metric, n >= 1 AS passed FROM m
        |UNION ALL SELECT 'completeness', 'user_id',
        |       round(nn_user / n, 6), nn_user / n = 1.0 FROM m
        |UNION ALL SELECT 'completeness', 'value',
        |       round(nn_value / n, 6), nn_value / n = 1.0 FROM m
        |UNION ALL SELECT 'uniqueness', 'event_id',
        |       round(nd_id / n, 6), nd_id / n = 1.0 FROM m
        |UNION ALL SELECT 'domain', 'event_type',
        |       round(in_dom / n, 6), in_dom / n = 1.0 FROM m
        |UNION ALL SELECT 'range', 'value',
        |       round(in_rng / n, 6), in_rng / n = 1.0 FROM m""".stripMargin,

    // Incremental-merge twin: the FULL-history aggregate — Spark builds
    // it as state ⊕ delta, so equality IS the merge-law proof.
    "agg_incremental_merge" ->
      """SELECT user_id, event_type,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
        |         AS total_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |             / count(*), 6) AS avg_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY user_id, event_type""".stripMargin,

    // Forecast-eval twin: the olap_wow CTEs folded to per-type MAE/MAPE
    // with the same DECIMAL-staged ratio average.
    "ts_forecast_eval" ->
      """WITH wd AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 86400 AS day,
        |         count(*) AS n_events
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY 1, 2
        |), wl AS (
        |  SELECT event_type, day, n_events,
        |         lag(n_events, 7) OVER w AS prev_week,
        |         lag(day, 7) OVER w AS prev_day
        |  FROM wd
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |), ev AS (
        |  SELECT event_type, n_events,
        |         CASE WHEN prev_day = day - 7 THEN prev_week END AS baseline
        |  FROM wl
        |), fe AS (
        |  SELECT event_type,
        |         count(*) AS n_eval,
        |         sum(abs(n_events - baseline)) AS abs_err_sum,
        |         sum(CAST(round(abs(n_events - baseline)
        |               / CAST(baseline AS DOUBLE), 8) AS DECIMAL(20,8)))
        |           AS r8_sum
        |  FROM ev WHERE baseline IS NOT NULL AND baseline > 0
        |  GROUP BY event_type
        |)
        |SELECT event_type, n_eval,
        |       round(CAST(abs_err_sum AS DOUBLE) / n_eval, 6) AS mae,
        |       round(CAST(r8_sum / n_eval AS DOUBLE), 6) AS mape
        |FROM fe""".stripMargin,

    // Benford twin (Olap.benfordScreen): leading digit via the same
    // first-character extraction, same literal expectation.
    "stat_benford" ->
      """WITH bd AS (
        |  SELECT CAST(floor(abs(value)
        |           / pow(10, floor(log10(abs(value))))) AS INT) AS digit,
        |         count(*) AS n
        |  FROM events
        |  WHERE value IS NOT NULL AND isfinite(value) AND abs(value) >= 1
        |  GROUP BY 1
        |), bt AS (SELECT sum(n) AS t FROM bd)
        |SELECT digit, n,
        |       round(n / CAST(t AS DOUBLE), 6) AS observed,
        |       round(log10(1.0 + 1.0 / digit), 6) AS expected,
        |       round(abs(round(n / CAST(t AS DOUBLE), 6)
        |             - round(log10(1.0 + 1.0 / digit), 6)), 6) AS abs_dev
        |FROM bd, bt""".stripMargin,

    // Resample twin (Resample.hourlyFfill): each observed bucket
    // generates its own filled rows up to the next observed bucket —
    // the same join-free lead+generate shape as the operator.
    // EWMA twin (Resample.ewma): list_reduce folds left seeded with the
    // first element — exactly s₁ = x₁ then sᵢ = α·xᵢ + (1−α)·sᵢ₋₁, the
    // same left-to-right double fold as the Spark aggregate, hence
    // bit-identical.
    "ts_ewma" ->
      s"""WITH ordered AS (
         |  SELECT event_type,
         |         list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS s
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |  GROUP BY event_type
         |)
         |SELECT event_type,
         |       CAST(len(s) AS INT) AS n_points,
         |       round(s[-1], 6) AS last_value,
         |       round(list_reduce(s,
         |         (acc, x) -> $EwmaAlpha * x + ${1 - EwmaAlpha} * acc), 6)
         |         AS ewma_value
         |FROM ordered""".stripMargin,

    // Linear-fill twin (Resample.hourlyInterpolate): same obs/led CTEs as
    // the ffill twin; the lerp runs in exact ×1e6 integer micro-units —
    // floor(n/gap) of integral n has no rounding tie for ANY IEEE engine
    // (see the operator scaladoc), and the final ÷1e6 is one correctly-
    // rounded divide of an exact integer.
    "ts_resample_interp" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         round(CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE)
        |               / count(*), 6) AS avg_v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), led AS (
        |  SELECT user_id, h, avg_v,
        |         lead(h) OVER (PARTITION BY user_id ORDER BY h) AS next_h,
        |         lead(avg_v) OVER (PARTITION BY user_id ORDER BY h)
        |           AS next_v
        |  FROM obs
        |), gen AS (
        |  SELECT user_id, h, next_h,
        |         CAST(round(avg_v * 1e6) AS BIGINT) AS v0e,
        |         CAST(round(next_v * 1e6) AS BIGINT) AS v1e,
        |         unnest(generate_series(
        |           h, coalesce(next_h - INTERVAL 1 HOUR, h),
        |           INTERVAL 1 HOUR)) AS gh
        |  FROM led
        |), frac AS (
        |  SELECT user_id, h, gh, v0e, v1e,
        |         CAST((epoch(gh) - epoch(h)) AS BIGINT) // 3600 AS idx,
        |         CAST((epoch(next_h) - epoch(h)) AS BIGINT) // 3600 AS gap
        |  FROM gen
        |)
        |SELECT user_id, CAST(gh AS VARCHAR) AS hour, gh = h AS observed,
        |       CAST(CASE WHEN gh = h THEN v0e
        |             ELSE CAST(floor(
        |               CAST(v0e * (gap - idx) + v1e * idx AS DOUBLE) /
        |               CAST(gap AS DOUBLE)) AS BIGINT)
        |             END AS DOUBLE) / 1e6 AS value_interp
        |FROM frac""".stripMargin,

    "ts_resample_ffill" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |         round(CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE)
        |               / count(*), 6) AS avg_v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), led AS (
        |  SELECT user_id, h, avg_v,
        |         lead(h) OVER (PARTITION BY user_id ORDER BY h) AS next_h
        |  FROM obs
        |), gen AS (
        |  SELECT user_id, h, avg_v,
        |         unnest(generate_series(
        |           h, coalesce(next_h - INTERVAL 1 HOUR, h),
        |           INTERVAL 1 HOUR)) AS gh
        |  FROM led
        |)
        |SELECT user_id, CAST(gh AS VARCHAR) AS hour,
        |       gh = h AS observed, avg_v AS value_ffill
        |FROM gen""".stripMargin,

    // Winsorize twin (Resample.winsorize): quantile_cont matches Spark's
    // exact interpolated percentile to 1 ulp; the flag compares in
    // round-6 space because the sf1.0 sweep caught a bound whose last
    // ulp differed between the engines' lerp shapes (op scaladoc).
    "stat_winsorize" ->
      """WITH bounds AS (
        |  SELECT event_type AS t,
        |         quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type
        |)
        |SELECT event_id, event_type, value,
        |       round(least(greatest(value, lo), hi), 6) AS clipped_value,
        |       (round(value, 6) < round(lo, 6)
        |        OR round(value, 6) > round(hi, 6)) AS was_clipped
        |FROM events JOIN bounds ON event_type = t
        |WHERE value IS NOT NULL""".stripMargin,

    // Daily-active-users twin (Olap.dailyActiveUsers): exact distinct.
    "agg_distinct_users" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |       event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // HLL audit twin (Olap.dailyActiveUsersAudit): the oracle has no
    // Spark-compatible sketch, so it asserts the CONTRACT — every group's
    // estimate within 3·rsd of exact — which the Spark side computes from
    // its own deterministic (register-max) sketch.
    "agg_distinct_hll_audit" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |       event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events,
        |       TRUE AS within_tol
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // Sketch-rollup audit twin (Olap.weeklyActiveUsersRollupAudit): exact
    // weekly distincts + day counts, the union-estimate contract pinned
    // TRUE (DataSketches HLL registers are per-bucket maxima — sketch and
    // union are order-independent, so the boolean is stable).
    "agg_distinct_hll_rollup_audit" ->
      """SELECT strftime(date_trunc('week', CAST(ts AS TIMESTAMP)),
        |                '%Y-%m-%d') AS week,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT strftime(CAST(ts AS TIMESTAMP),
        |                '%Y-%m-%d')) AS n_days,
        |       TRUE AS within_tol
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // Quantile-bin twin (Profile.quantileBins, exact face): DuckDB's
    // quantile_cont interpolates identically to Spark's exact percentile;
    // the same strictly-greater edge comparison assigns bins.
    "stat_quantile_bins" -> {
      val qs = (1 until 10).map(i => s"quantile_cont(value, 0.$i)")
        .mkString(", ")
      s"""WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
         |e AS (SELECT [$qs] AS edges FROM v),
         |b AS (
         |  SELECT 1 + len(list_filter(edges, x -> value > x)) AS bin
         |  FROM v CROSS JOIN e
         |), c AS (SELECT bin, count(*) AS n_events FROM b GROUP BY bin)
         |SELECT CAST(bin AS INT) AS bin, n_events,
         |       round(n_events / CAST(sum(n_events) OVER () AS DOUBLE), 6)
         |         AS share
         |FROM c""".stripMargin
    },
  )
}
