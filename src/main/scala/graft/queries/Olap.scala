package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** OLAP family: pivot/unpivot/rollup/cube/grouping sets, joins (asof/range/anti/full), windows, funnels, sessionization, retention, Z-order.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesOlap {

  private def sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(StandIn.eventsByUser(s, dir))

  // Training-mix rates shared by the sampler query and its oracle CASE.

  private def asofPurchaseView(s: SparkSession, dir: String): DataFrame =
    graft.ops.AsOf.purchasesWithLatestView(StandIn.eventsByUser(s, dir))

  private def rangeSessionPurchases(s: SparkSession, dir: String): DataFrame =
    graft.ops.RangeJoin.purchasesInSessions(StandIn.eventsByUser(s, dir))

  private def olapPivotEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.pivotEventCounts(StandIn.events(s, dir))

  private def windowMovingStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowOps.movingStats(StandIn.eventsByUser(s, dir))

  private def olapCubeEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.cubeEventStats(StandIn.events(s, dir))

  private def windowLagLead(s: SparkSession, dir: String): DataFrame =
    graft.ops.WindowOps.lagLeadStats(StandIn.eventsByUser(s, dir))

  private def funnelConversion(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.conversion(StandIn.eventsByUser(s, dir))

  private def olapPricingSummary(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.pricingSummary(StandIn.table(s, dir, "lineitem"))

  private def joinRevenueNation(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.revenueByNation(
      StandIn.table(s, dir, "lineitem"),
      StandIn.table(s, dir, "orders"),
      StandIn.table(s, dir, "customer"),
      StandIn.table(s, dir, "nation"),
      StandIn.table(s, dir, "region"))

  private def olapRevenueShare(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.revenueShareByNation(
      StandIn.table(s, dir, "lineitem"),
      StandIn.table(s, dir, "orders"),
      StandIn.table(s, dir, "customer"),
      StandIn.table(s, dir, "nation"),
      StandIn.table(s, dir, "region"))

  // Approx-quantile sketch variant of qualityPercentiles — the
  // extreme-cardinality path. Engine-specific sketch (Greenwald-Khanna in
  // Spark), so no DuckDB twin; rows-only driver check + an error-bound
  // unit test vs the exact percentiles (ProfileSpec).

  private def olapRollupEvents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Olap.rollupEventStats(StandIn.events(s, dir))

  // Gaps-and-islands session CTEs (twin of Sessionize.sessions) — shared
  // by sessionize / range_session_purchases so the two cannot drift.
  private val sessionCtesSql =
    """ev AS (
      |  SELECT event_id, user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
      |  FROM events
      |  WHERE ts IS NOT NULL
      |), flagged AS (
      |  SELECT user_id, event_id, ts_sec,
      |         CASE WHEN lag(ts_sec) OVER
      |                (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |                IS NULL
      |              OR ts_sec - lag(ts_sec) OVER
      |                (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |                > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM ev
      |), sess AS (
      |  SELECT user_id, ts_sec,
      |         CAST(sum(new_sess) OVER
      |           (PARTITION BY user_id ORDER BY ts_sec, event_id)
      |           AS INT) AS session_seq
      |  FROM flagged
      |)""".stripMargin

  // Funnel stage CTEs — shared by funnel_conversion / funnel_stages so the
  // snapshot and incremental twins cannot drift.
  private val funnelCtes =
    """ev AS (
      |  SELECT user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
      |  FROM events WHERE ts IS NOT NULL
      |), v AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_sec END)
      |              OVER (PARTITION BY user_id) AS view_s
      |  FROM ev
      |), c AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_sec >= view_s
      |                     THEN ts_sec END)
      |              OVER (PARTITION BY user_id) AS click_s
      |  FROM v
      |), p AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_sec >= click_s
      |                     THEN ts_sec END)
      |              OVER (PARTITION BY user_id) AS purchase_s
      |  FROM c
      |)""".stripMargin

  // Shared by dedup_clusters / dedup_clusters_bigstar: both implement
  // "label every doc with its component's min id" over the SAME candidate
  // graph, so one recursive-CTE oracle checks both.

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sessionize"          -> ((s, d) => sessionize(s, d)),

    "asof_purchase_view"  -> ((s, d) => asofPurchaseView(s, d)),

    // NEAREST-in-time as-of (either direction, backward-preferred ties,
    // microsecond arithmetic): AsOf.asofNearest via the one-exchange
    // double-window trick; oracle = the declarative per-key product.
    "asof_nearest_view"   -> ((s, d) =>
      graft.ops.AsOf.purchasesWithNearestView(StandIn.eventsByUser(s, d))),

    "range_session_purchases" -> ((s, d) => rangeSessionPurchases(s, d)),

    // Interval×interval OVERLAP join (bin-bucketed, exactly-once via the
    // first-shared-bin rule — RangeJoin.intervalOverlap): user sessions
    // overlapped with global high-value activity bursts per event type
    // (Sessionize.typeBursts); oracle = DuckDB's declarative overlap join.
    "join_interval_overlap" -> ((s, d) => {
      val ev = StandIn.events(s, d)
      val sessions = Sessionize.sessions(ev)
        .select(col("user_id"), col("session_seq"),
          col("start_sec"), col("end_sec"))
      val bursts = Sessionize.typeBursts(ev)
        .select(col("event_type"), col("burst_seq"),
          col("b_start"), col("b_end"))
      graft.ops.RangeJoin.intervalOverlap(
        sessions, "start_sec", "end_sec", bursts, "b_start", "b_end")
        .select(col("user_id"), col("session_seq"),
          col("start_sec"), col("end_sec"),
          col("event_type"), col("burst_seq"), col("b_start"), col("b_end"),
          (least(col("end_sec"), col("b_end")) -
            greatest(col("start_sec"), col("b_start")) + 1)
            .alias("overlap_sec"))
    }),

    "olap_pivot_events"   -> ((s, d) => olapPivotEvents(s, d)),

    "olap_rollup_events"  -> ((s, d) => olapRollupEvents(s, d)),

    "olap_cube_events"    -> ((s, d) => olapCubeEvents(s, d)),

    "olap_grouping_sets"  -> ((s, d) =>
      graft.ops.Olap.groupingSetsStats(StandIn.events(s, d))),

    "olap_unpivot"        -> ((s, d) =>
      graft.ops.Olap.unpivotMeasures(StandIn.table(s, d, "lineitem"))),

    "window_moving_stats" -> ((s, d) => windowMovingStats(s, d)),

    "window_lag_lead"     -> ((s, d) => windowLagLead(s, d)),

    "funnel_conversion"   -> ((s, d) => funnelConversion(s, d)),

    "funnel_stages"       -> ((s, d) =>
      graft.ops.Funnel.streamingConversion(StandIn.events(s, d)).toDF()),

    "olap_pricing"        -> ((s, d) => olapPricingSummary(s, d)),

    "join_revenue_nation" -> ((s, d) => joinRevenueNation(s, d)),

    "window_topn"         -> ((s, d) =>
      graft.ops.WindowOps.topNPerUser(StandIn.eventsByUser(s, d))),

    "window_rank_ties"    -> ((s, d) =>
      graft.ops.WindowOps.valueRanks(StandIn.events(s, d))),

    "cdc_apply"           -> ((s, d) =>
      graft.ops.Cdc.applyLatest(StandIn.eventsByUser(s, d))),

    "scd2_history"        -> ((s, d) =>
      graft.ops.Cdc.scd2History(StandIn.eventsByUser(s, d))),

    "scd2_asof_probe"     -> ((s, d) =>
      graft.ops.Cdc.scd2AsOfProbe(StandIn.eventsByUser(s, d))),

    "join_semi_orders"    -> ((s, d) =>
      graft.ops.SetOps.customersWithUrgentOrders(
        StandIn.table(s, d, "customer"), StandIn.table(s, d, "orders"))),

    "join_anti_orders"    -> ((s, d) =>
      graft.ops.SetOps.customersWithoutBigOrders(
        StandIn.table(s, d, "customer"), StandIn.table(s, d, "orders"))),

    "set_except_users"    -> ((s, d) =>
      graft.ops.SetOps.clickersNotBuyers(StandIn.eventsByUser(s, d))),

    "set_intersect_users" -> ((s, d) =>
      graft.ops.SetOps.clickersAlsoBuyers(StandIn.eventsByUser(s, d))),

    "join_full_outer"     -> ((s, d) =>
      graft.ops.SetOps.dailyClickPurchaseMatrix(StandIn.eventsByUser(s, d))),

    "olap_event_lift"     -> ((s, d) =>
      graft.ops.Olap.eventTypeLift(StandIn.events(s, d))),

    "olap_retention"      -> ((s, d) =>
      graft.ops.Olap.retentionCohorts(StandIn.eventsByUser(s, d))),

    "olap_histogram"      -> ((s, d) =>
      graft.ops.Olap.valueHistogram(StandIn.events(s, d))),

    // Z-order (Morton) layout key: codegen'd bit interleave of two
    // bounded dims - the multi-dimensional row-group-pruning layout
    // (graft.ops.Zorder scaladoc has the 100 TB story).
    "olap_zorder_key"     -> ((s, d) =>
      graft.ops.Zorder.eventKeys(StandIn.events(s, d))),

    // Week-over-week movement: daily counts + lag(7) over the bounded
    // (type, day) table, join-free, calendar-gap-safe (Olap.weekOverWeek).
    "olap_wow"            -> ((s, d) =>
      graft.ops.Olap.weekOverWeek(StandIn.events(s, d))),

    // Seasonality heatmap: (dow, hour, type) activity matrix, epoch
    // arithmetic only, DECIMAL-exact value sums (Olap.seasonality).
    "olap_seasonality"    -> ((s, d) =>
      graft.ops.Olap.seasonality(StandIn.events(s, d))),

    "olap_revenue_share"  -> ((s, d) => olapRevenueShare(s, d)),

    // Streaming running-stats anomaly detector, batch-replay face: the
    // exact-decimal prefix sums make the replay reproduce the SQL
    // prefix-window oracle bit for bit (cross-paradigm, like funnel_stages).
    "stream_anomaly"      -> ((s, d) =>
      graft.ops.Anomaly.streamingOutliers(StandIn.events(s, d)).toDF()),

    "join_attribution"    -> ((s, d) =>
      graft.ops.StreamJoin.purchaseAttribution(StandIn.events(s, d))),

    // Changelog compaction WITH tombstone GC: latest row per key, delete
    // markers survive until the midpoint watermark passes them — the
    // Kafka delete.retention / Delta-CDC VACUUM face next to cdc_apply's
    // plain snapshot (Cdc.compactChangelog).
    // The facts ride the user_id-keyed fan-out (window exchange elides);
    // the GC-watermark bounds arm takes the UNFANNED scan — a global
    // min/max needs no keying, so the harness fan-out lineage must not
    // drag a second keyed exchange into the plan (r21; the r20 pin
    // breakage was exactly that second exchange).
    "cdc_compact_gc"      -> ((s, d) =>
      graft.ops.Cdc.compactChangelog(StandIn.eventsByUser(s, d),
        boundsSource = Some(StandIn.eventsUnfanned(s, d)))),

    // File-compaction planner over a synthetic manifest (lang-partition
    // files of ~filesPerPart docs): per-partition size-desc next-fit
    // binning at CompactionTarget bytes (Olap.compactionPlan — the
    // small-files fix; the manifest is metadata, the data never moves).
    "olap_compaction_plan" -> ((s, d) =>
      graft.ops.Olap.compactionPlan(manifest(s, d), CompactionTarget)),

    // The compactor's per-bin work list (Olap.compactionBins).
    "olap_compaction_bins" -> ((s, d) =>
      graft.ops.Olap.compactionBins(manifest(s, d), CompactionTarget)),
  )

  // Synthetic file manifest: the documents table as lang-partitioned
  // "files" of docs grouped by doc_id mod ManifestFilesPerPart, sized by
  // their n_chars total — the (part_key, file_id, bytes) metadata shape a
  // real table's transaction log would provide.
  private val ManifestFilesPerPart = 40
  private val CompactionTarget = 2048L

  private val manifestSql =
    s"""manifest AS (
       |  SELECT lang AS part_key, doc_id % $ManifestFilesPerPart AS file_id,
       |         CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS bytes
       |  FROM documents GROUP BY 1, 2
       |)""".stripMargin

  private def manifest(s: SparkSession, d: String): DataFrame =
    StandIn.documents(s, d)
      .groupBy(col("lang").alias("part_key"),
        pmod(col("doc_id"), lit(ManifestFilesPerPart.toLong))
          .alias("file_id"))
      .agg(sum(coalesce(col("n_chars"), lit(0L))).alias("bytes"))

  def oracleSql: Map[String, String] = Map(
    // Pivot twin (Olap.pivotEventCounts): conditional aggregation — the
    // declarative restatement of an explicit-values pivot.
    "olap_pivot_events" -> {
      val cols = graft.ops.Olap.EventTypes.map(t =>
        s"count(*) FILTER (event_type = '$t') AS n_$t").mkString(",\n       ")
      s"""SELECT user_id,
         |       $cols
         |FROM events GROUP BY user_id""".stripMargin
    },

    // Rollup twin (Olap.rollupEventStats): GROUP BY ROLLUP with grouping
    // flags; sum rounded to 4 dp on both sides to absorb float summation
    // order (the agg_sensor_stats precedent).
    "olap_rollup_events" ->
      """SELECT event_type, value_band,
        |       CAST(grouping(event_type) AS INT) AS g_type,
        |       CAST(grouping(value_band) AS INT) AS g_band,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM (
        |  SELECT event_type, CAST(floor(value / 10) AS INT) AS value_band,
        |         value
        |  FROM events WHERE value IS NOT NULL
        |)
        |GROUP BY ROLLUP (event_type, value_band)""".stripMargin,

    // Cube twin (Olap.cubeEventStats): GROUP BY CUBE, same flags/rounding
    // as the rollup twin.
    "olap_cube_events" ->
      """SELECT event_type, value_band,
        |       CAST(grouping(event_type) AS INT) AS g_type,
        |       CAST(grouping(value_band) AS INT) AS g_band,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM (
        |  SELECT event_type, CAST(floor(value / 10) AS INT) AS value_band,
        |         value
        |  FROM events WHERE value IS NOT NULL
        |)
        |GROUP BY CUBE (event_type, value_band)""".stripMargin,

    // Grouping-sets twin (Olap.groupingSetsStats): leaf + both one-key
    // slices, no grand total — the lattice rollup/cube cannot express.
    "olap_grouping_sets" ->
      """SELECT event_type, value_band,
        |       CAST(grouping(event_type) AS INT) AS g_type,
        |       CAST(grouping(value_band) AS INT) AS g_band,
        |       count(*) AS n,
        |       round(sum(value), 4) AS sum_value
        |FROM (
        |  SELECT event_type, CAST(floor(value / 10) AS INT) AS value_band,
        |         value
        |  FROM events WHERE value IS NOT NULL
        |)
        |GROUP BY GROUPING SETS ((event_type, value_band), (event_type),
        |                        (value_band))""".stripMargin,

    // Unpivot twin (Olap.unpivotMeasures): portable UNION ALL melt.
    "olap_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
        |)
        |SELECT l_returnflag, measure, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,4))) AS DOUBLE)
        |         AS sum_value
        |FROM m GROUP BY l_returnflag, measure""".stripMargin,

    // Ranking-family twin (WindowOps.lagLeadStats): one shared WINDOW
    // spec; the event_id tie-break makes ntile/percent_rank deterministic.
    "window_lag_lead" ->
      """SELECT event_id, user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec,
        |       lag(event_type) OVER w AS prev_type,
        |       lead(event_type) OVER w AS next_type,
        |       CAST(row_number() OVER w AS INT) AS rn,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM events WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000,
        |                      event_id)""".stripMargin,

    // Tied-rank twin (WindowOps.valueRanks): rank/dense_rank depend only
    // on the ORDER values, so no tie-break column is needed for a
    // deterministic hash.
    "window_rank_ties" ->
      """SELECT event_id, event_type, value,
        |       CAST(rank() OVER w AS INT) AS rnk,
        |       CAST(dense_rank() OVER w AS INT) AS dense_rnk
        |FROM events WHERE value IS NOT NULL
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC)"""
        .stripMargin,

    // CDC latest-wins twin (Cdc.applyLatest): top-1 per key by (ts desc,
    // event_id desc), tombstone test AFTER the cut — filtering 'error'
    // first would resurrect deleted keys' stale penultimate versions.
    "cdc_apply" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS as_of_s,
        |         row_number() OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 DESC,
        |                    event_id DESC) AS rn
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT user_id, event_type, value, as_of_s
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // SCD2 twin (Cdc.scd2History): change rows via lag, then version /
    // valid_from / valid_to / is_current off one shared window.
    "scd2_history" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000,
        |                    event_id) AS prev_type
        |  FROM events WHERE ts IS NOT NULL
        |), c AS (
        |  SELECT user_id, event_id, event_type, ts_sec FROM b
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |)
        |SELECT user_id, event_type,
        |       CAST(row_number() OVER w AS INT) AS version,
        |       ts_sec AS valid_from_s,
        |       lead(ts_sec) OVER w AS valid_to_s,
        |       (lead(ts_sec) OVER w) IS NULL AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)"""
        .stripMargin,

    // Point-in-time probe twin (Cdc.scd2AsOfProbe): the same SCD2 CTEs,
    // then the half-open interval join — every event lands in exactly
    // one version (the row count equals the event count).
    "scd2_asof_probe" ->
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000,
        |                    event_id) AS prev_type
        |  FROM events WHERE ts IS NOT NULL
        |), c AS (
        |  SELECT user_id, event_id, event_type, ts_sec FROM b
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |), h AS (
        |  SELECT user_id AS h_uid, event_type AS state,
        |         CAST(row_number() OVER w AS INT) AS version,
        |         ts_sec AS valid_from_s,
        |         lead(ts_sec) OVER w AS valid_to_s
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        |)
        |SELECT e.event_id, e.user_id,
        |       epoch_us(CAST(e.ts AS TIMESTAMP)) // 1000000 AS ts_sec,
        |       h.state, h.version
        |FROM events e JOIN h ON e.user_id = h.h_uid
        |  AND epoch_us(CAST(e.ts AS TIMESTAMP)) // 1000000
        |        >= h.valid_from_s
        |  AND (h.valid_to_s IS NULL OR
        |       epoch_us(CAST(e.ts AS TIMESTAMP)) // 1000000
        |         < h.valid_to_s)
        |WHERE e.ts IS NOT NULL""".stripMargin,

    // Semi-join twin (SetOps.customersWithUrgentOrders): EXISTS via IN —
    // DuckDB plans the same semi join Spark's left_semi does.
    "join_semi_orders" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_orderpriority = '1-URGENT')"""
        .stripMargin,

    // Funnel twin (Funnel.conversion): the same three chained
    // whole-partition window minimums, collapsed per user.
    "funnel_conversion" ->
      s"""WITH $funnelCtes
         |SELECT user_id,
         |       max(view_s) AS first_view_s,
         |       max(click_s) AS first_click_s,
         |       max(purchase_s) AS first_purchase_s,
         |       CAST(CASE WHEN max(purchase_s) IS NOT NULL THEN 3
         |                 WHEN max(click_s) IS NOT NULL THEN 2
         |                 WHEN max(view_s) IS NOT NULL THEN 1
         |                 ELSE 0 END AS INT) AS stage
         |FROM p GROUP BY user_id""".stripMargin,

    // Streaming-funnel twin (Funnel.streamingConversion, batch-run): on a
    // complete replay the stage advances are exactly the batch funnel's
    // non-null stage timestamps — the same CTEs, unioned per stage. A
    // cross-paradigm check of the state machine, like alert_lifecycle.
    "funnel_stages" ->
      s"""WITH $funnelCtes, f AS (
         |  SELECT user_id,
         |         max(view_s) AS v, max(click_s) AS c, max(purchase_s) AS pu
         |  FROM p GROUP BY user_id
         |)
         |SELECT user_id, 1 AS stage, v AS at_s FROM f WHERE v IS NOT NULL
         |UNION ALL
         |SELECT user_id, 2 AS stage, c AS at_s FROM f WHERE c IS NOT NULL
         |UNION ALL
         |SELECT user_id, 3 AS stage, pu AS at_s FROM f WHERE pu IS NOT NULL"""
        .stripMargin,

    // Q1-style pricing twin (Olap.pricingSummary): identical DECIMAL
    // intermediates make every sum exact and order-independent on both
    // engines — the averages derive from the exact sums.
    // The big sums go DECIMAL → VARCHAR → DOUBLE: DuckDB's direct
    // decimal→double cast converts the scaled int128 to double FIRST and
    // divides after, so past 2^53 scaled units (≈ the sf1.0 sum_charge,
    // caught by the r14 sweep) it is no longer correctly rounded, while
    // Spark's BigDecimal.doubleValue is. The VARCHAR hop forces DuckDB
    // through its correctly-rounded string→double path — both engines
    // then emit THE nearest double to the same exact decimal, at any
    // scale.
    "olap_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
        |       AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
        |       AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)))
        |       AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)) *
        |           CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(5,2)))
        |       AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |        / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |        / count(*), 6) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
        |        / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // Q5-style twin (Olap.revenueByNation): declarative joins; DuckDB
    // picks its own join order — agreement checks the RESULT, not the plan.
    "join_revenue_nation" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)))
        |       AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    // Top-N twin (WindowOps.topNPerUser): same rank, same tie-break.
    "window_topn" ->
      """SELECT user_id, event_id, value, rnk FROM (
        |  SELECT user_id, event_id, value,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |              ORDER BY value DESC, event_id) AS INT) AS rnk
        |  FROM events WHERE value IS NOT NULL
        |) WHERE rnk <= 3""".stripMargin,

    // Anti-join twin (SetOps.customersWithoutBigOrders): NOT EXISTS.
    "join_anti_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"""
        .stripMargin,

    // EXCEPT twin (SetOps.clickersNotBuyers): identical set semantics.
    "set_except_users" ->
      """SELECT user_id FROM events
        |WHERE event_type = 'click' AND value > 95
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 95""".stripMargin,

    // INTERSECT twin (SetOps.clickersAlsoBuyers): identical set semantics.
    "set_intersect_users" ->
      """SELECT user_id FROM events
        |WHERE event_type = 'click' AND value > 95
        |INTERSECT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 95""".stripMargin,

    // Full-outer twin (SetOps.dailyClickPurchaseMatrix).
    "join_full_outer" ->
      """WITH c AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |), p AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT coalesce(c.user_id, p.user_id) AS user_id,
        |       CAST(coalesce(c.day, p.day) AS VARCHAR) AS day,
        |       coalesce(c.n_clicks, 0) AS n_clicks,
        |       coalesce(p.n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p
        |  ON c.user_id = p.user_id AND c.day = p.day""".stripMargin,

    // Event-lift twin (Olap.eventTypeLift): identical distinct frame,
    // self-join, marginals, and one double lift expression.
    "olap_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |), m AS (SELECT event_type, count(*) AS m FROM ut GROUP BY 1),
        |tot AS (SELECT count(DISTINCT user_id) AS n_users FROM ut)
        |SELECT type_a, type_b, n_both, ma.m AS n_a, mb.m AS n_b,
        |       round(CAST(n_both AS DOUBLE) * n_users /
        |             (CAST(ma.m AS DOUBLE) * mb.m), 6)
        |         AS lift
        |FROM pairs JOIN m ma ON ma.event_type = type_a
        |           JOIN m mb ON mb.event_type = type_b
        |           CROSS JOIN tot""".stripMargin,

    // Retention twin (Olap.retentionCohorts).
    "olap_retention" ->
      """WITH dated AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL
        |), first_seen AS (
        |  SELECT user_id, min(d) AS cohort_d FROM dated GROUP BY user_id
        |)
        |SELECT CAST(f.cohort_d AS VARCHAR) AS cohort_day,
        |       CAST(datediff('day', f.cohort_d, t.d) AS INT) AS day_offset,
        |       count(DISTINCT t.user_id) AS active_users
        |FROM dated t JOIN first_seen f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // Z-order twin (Zorder.eventKeys): the same shift/mask interleave,
    // term for term.
    "olap_zorder_key" ->
      """WITH zz AS (
        |  SELECT event_id,
        |         ((user_id % 1024) + 1024) % 1024 AS za,
        |         least(greatest(CAST(floor(value) AS BIGINT), 0), 1023)
        |           AS zb
        |  FROM events WHERE value IS NOT NULL
        |)
        |SELECT event_id, za, zb,
        |       CAST((((za >> 0) & 1) << 1) | (((zb >> 0) & 1) << 0) | (((za >> 1) & 1) << 3) | (((zb >> 1) & 1) << 2) | (((za >> 2) & 1) << 5) | (((zb >> 2) & 1) << 4) | (((za >> 3) & 1) << 7) | (((zb >> 3) & 1) << 6) | (((za >> 4) & 1) << 9) | (((zb >> 4) & 1) << 8) | (((za >> 5) & 1) << 11) | (((zb >> 5) & 1) << 10) | (((za >> 6) & 1) << 13) | (((zb >> 6) & 1) << 12) | (((za >> 7) & 1) << 15) | (((zb >> 7) & 1) << 14) | (((za >> 8) & 1) << 17) | (((zb >> 8) & 1) << 16) | (((za >> 9) & 1) << 19) | (((zb >> 9) & 1) << 18) AS BIGINT) AS zkey
        |FROM zz""".stripMargin,

    // Compact+GC twin (Cdc.compactChangelog): cdc_apply's top-1 window
    // KEEPING tombstones, then the integer-midpoint retention cut — a
    // tombstone older than the watermark vanishes with its key, a newer
    // one stays as an explicit delete marker.
    "cdc_compact_gc" ->
      """WITH cr AS (
        |  SELECT user_id, event_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
        |  FROM events WHERE ts IS NOT NULL
        |), cb AS (SELECT min(ts_sec) AS lo, max(ts_sec) AS hi FROM cr),
        |cl AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id
        |    ORDER BY ts_sec DESC, event_id DESC) AS rn
        |  FROM cr
        |)
        |SELECT user_id, event_type, value, ts_sec AS as_of_s,
        |       event_type = 'error' AS is_tombstone
        |FROM cl, cb
        |WHERE rn = 1
        |  AND (event_type <> 'error' OR ts_sec >= (lo + hi + 1) // 2)"""
        .stripMargin,

    // Compaction-planner twins (Olap.compactionPlan / compactionBins):
    // same synthetic manifest, same size-desc (file_id tie-break)
    // cumulative window, same integer floor division at the target —
    // `//` is DuckDB's BIGINT floor div, `div` Spark's.
    "olap_compaction_plan" ->
      s"""WITH $manifestSql
         |SELECT part_key, file_id, bytes,
         |       CAST((sum(bytes) OVER (PARTITION BY part_key
         |              ORDER BY bytes DESC, file_id) - bytes)
         |            // $CompactionTarget AS INT) AS bin
         |FROM manifest""".stripMargin,

    "olap_compaction_bins" ->
      s"""WITH $manifestSql, plan AS (
         |  SELECT part_key, bytes,
         |         CAST((sum(bytes) OVER (PARTITION BY part_key
         |                ORDER BY bytes DESC, file_id) - bytes)
         |              // $CompactionTarget AS INT) AS bin
         |  FROM manifest
         |)
         |SELECT part_key, bin, CAST(count(*) AS INT) AS n_files,
         |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
         |       sum(bytes) >= $CompactionTarget AS is_full
         |FROM plan GROUP BY 1, 2""".stripMargin,

    // Week-over-week twin (Olap.weekOverWeek): same day arithmetic,
    // same lag-7 + calendar-week guard over the daily CTE.
    "olap_wow" ->
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
        |), wg AS (
        |  SELECT event_type, day, n_events,
        |         CASE WHEN prev_day = day - 7 THEN prev_week END AS baseline
        |  FROM wl
        |)
        |SELECT event_type, day, n_events,
        |       baseline AS prev_week_events,
        |       round(CASE WHEN baseline > 0
        |             THEN (n_events - baseline) / CAST(baseline AS DOUBLE)
        |             END, 6) AS wow_change
        |FROM wg""".stripMargin,

    // Seasonality twin (Olap.seasonality): identical epoch div/mod
    // bucketing (Thursday-anchored dow), DECIMAL-staged value sums.
    "olap_seasonality" ->
      """WITH se AS (
        |  SELECT event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
        |  FROM events WHERE ts IS NOT NULL
        |), sa AS (
        |  SELECT CAST((s // 86400 + 4) % 7 AS INT) AS dow,
        |         CAST((s // 3600) % 24 AS INT) AS hour,
        |         event_type,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |  FROM se GROUP BY 1, 2, 3
        |)
        |SELECT dow, hour, event_type, n_events,
        |       round(sv, 6) AS total_value,
        |       round(sv / n_events, 6) AS avg_value
        |FROM sa""".stripMargin,

    // Histogram twin (Olap.valueHistogram): lo=0, hi=100, bins=20 → width 5.
    "olap_histogram" ->
      """WITH c AS (
        |  SELECT least(19, greatest(0,
        |           CAST(floor((value - 0.0) / 5.0) AS INT))) AS bin,
        |         count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), t AS (SELECT sum(n) AS t FROM c)
        |SELECT bin, round(0.0 + bin * 5.0, 6) AS bin_lo, n,
        |       round(n / CAST(t.t AS DOUBLE), 6) AS share
        |FROM c, t""".stripMargin,

    // Revenue-share twin (Olap.revenueShareByNation): the Q5 aggregate
    // plus percent-of-total over the 5-row result.
    "olap_revenue_share" ->
      """WITH r AS (
        |  SELECT n_name,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)))
        |         AS VARCHAR) AS DOUBLE) AS revenue,
        |    count(*) AS n_items
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation   ON c_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY n_name
        |)
        |SELECT n_name, revenue, n_items,
        |       round(revenue / sum(revenue) OVER (), 6) AS share
        |FROM r""".stripMargin,

    // Streaming-anomaly twin (Anomaly.streamingOutliers batch replay):
    // prefix-window decimal sums → the same one double expression.
    "stream_anomaly" ->
      """WITH ordered AS (
        |  SELECT event_id, event_type, value,
        |         row_number() OVER w - 1 AS n_seen,
        |         CAST(sum(CAST(value AS DECIMAL(14,4))) OVER wp AS DOUBLE)
        |           AS s1,
        |         CAST(sum(CAST(value AS DECIMAL(14,4)) *
        |                  CAST(value AS DECIMAL(14,4))) OVER wp AS DOUBLE)
        |           AS s2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  WINDOW w AS (PARTITION BY event_type
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id),
        |         wp AS (PARTITION BY event_type
        |                ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), scored AS (
        |  SELECT event_id, event_type, value, n_seen,
        |         s1 / n_seen AS mean_v,
        |         (s2 - s1 * s1 / n_seen) / (n_seen - 1) AS var_v
        |  FROM ordered WHERE n_seen >= 10
        |)
        |SELECT event_id, event_type, value, n_seen,
        |       CASE WHEN var_v > 0
        |            THEN round((value - mean_v) / sqrt(var_v), 6)
        |            END AS z_score
        |FROM scored
        |WHERE (var_v > 0 AND abs((value - mean_v) / sqrt(var_v)) > 3.0)
        |   OR (var_v <= 0 AND value <> mean_v)""".stripMargin,

    // Moving-window twin (WindowOps.movingStats): identical frame spec;
    // 6-dp rounding absorbs sliding-aggregation summation order.
    "window_moving_stats" ->
      """SELECT event_id, user_id,
        |       epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec,
        |       round(avg(value) OVER
        |         (PARTITION BY user_id
        |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000, event_id
        |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma5,
        |       round(value - lag(value) OVER
        |         (PARTITION BY user_id
        |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) // 1000000, event_id),
        |         6) AS delta
        |FROM events WHERE ts IS NOT NULL""".stripMargin,

    // AS-OF twin (AsOf.purchasesWithLatestView): DuckDB's NATIVE ASOF
    // LEFT JOIN checks the union-window implementation against an
    // independent algorithm — same inclusive `l.ts >= r.ts` semantics,
    // same (user_id, ts)-dedup of the view side by max event_id.
    "asof_purchase_view" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |         event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM ev WHERE event_type = 'purchase'
        |), v0 AS (
        |  SELECT event_id AS view_id, user_id, ts, value AS view_value,
        |         row_number() OVER (PARTITION BY user_id, ts
        |                            ORDER BY event_id DESC) AS rn
        |  FROM ev WHERE event_type = 'view'
        |), v AS (
        |  SELECT view_id, user_id, ts, view_value FROM v0 WHERE rn = 1
        |)
        |SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
        |       v.view_id, v.view_value
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    // Nearest-as-of twin (AsOf.purchasesWithNearestView): DuckDB states
    // nearest declaratively (per-key product + (distance, backward
    // -preferred) rank) — checking the double-window implementation
    // against the definition. Micros arithmetic on both sides.
    "asof_nearest_view" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |         event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM ev WHERE event_type = 'purchase'
        |), v0 AS (
        |  SELECT event_id AS view_id, user_id, ts, value AS view_value,
        |         row_number() OVER (PARTITION BY user_id, ts
        |                            ORDER BY event_id DESC) AS rn
        |  FROM ev WHERE event_type = 'view'
        |), v AS (
        |  SELECT view_id, user_id, ts, view_value FROM v0 WHERE rn = 1
        |), cand AS (
        |  SELECT p.purchase_id, v.view_id, v.view_value,
        |         epoch_us(v.ts) - epoch_us(p.ts) AS dt_us,
        |         row_number() OVER (
        |           PARTITION BY p.purchase_id
        |           ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)),
        |                    (v.ts <= p.ts) DESC) AS rn
        |  FROM p JOIN v ON p.user_id = v.user_id
        |)
        |SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
        |       c.view_id, c.view_value, c.dt_us,
        |       CASE WHEN c.view_id IS NULL THEN NULL
        |            WHEN c.dt_us <= 0 THEN 'backward'
        |            ELSE 'forward' END AS direction
        |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  USING (purchase_id)""".stripMargin,

    // Attribution twin (StreamJoin.purchaseAttribution, batch face): the
    // same inclusive time-range join, declaratively.
    "join_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       epoch_us(p.ts) // 1000000 AS purchase_s,
        |       v.event_id AS view_id,
        |       epoch_us(v.ts) // 1000000 AS view_s,
        |       epoch_us(p.ts) // 1000000 - epoch_us(v.ts) // 1000000 AS lag_s
        |FROM ev p JOIN ev v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 60 MINUTE
        | AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin,

    // Gaps-and-islands sessionization twin (Sessionize.sessions): epoch
    // seconds by integer division on both engines, event_id tie-break,
    // running sum over the same unique ordering.
    "sessionize" ->
      s"""WITH $sessionCtesSql
         |SELECT user_id, session_seq, CAST(count(*) AS INT) AS n_events,
         |       min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
         |FROM sess GROUP BY user_id, session_seq""".stripMargin,

    // Range-join twin (RangeJoin.pointInInterval over sessions): DuckDB
    // expresses the interval containment DIRECTLY (join ... BETWEEN),
    // checking the bin-bucketed equi-join implementation against the
    // declarative definition. Shares the sessionize CTEs so the interval
    // source cannot drift between the two oracles.
    "range_session_purchases" ->
      s"""WITH $sessionCtesSql, sessions AS (
         |  SELECT user_id, session_seq,
         |         min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
         |  FROM sess GROUP BY user_id, session_seq
         |), pp AS (
         |  SELECT event_id, user_id,
         |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
         |  FROM events
         |  WHERE ts IS NOT NULL AND event_type = 'purchase'
         |)
         |SELECT p.event_id, p.user_id, s.session_seq
         |FROM pp p
         |JOIN sessions s
         |  ON p.user_id = s.user_id
         | AND p.ts_sec BETWEEN s.start_sec AND s.end_sec""".stripMargin,

    // Interval-overlap twin (RangeJoin.intervalOverlap): DuckDB states
    // the overlap DIRECTLY; the bin-bucketed first-shared-bin equi-join
    // must reproduce it pair for pair. Sessions share the sessionize
    // CTEs; bursts re-derive Sessionize.typeBursts declaratively.
    "join_interval_overlap" ->
      s"""WITH $sessionCtesSql, sessions AS (
         |  SELECT user_id, session_seq,
         |         min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
         |  FROM sess GROUP BY user_id, session_seq
         |), hv AS (
         |  SELECT event_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS ts_sec
         |  FROM events WHERE ts IS NOT NULL AND value > 250
         |), bflag AS (
         |  SELECT event_type, ts_sec,
         |         CASE WHEN lag(ts_sec) OVER
         |                (PARTITION BY event_type ORDER BY ts_sec, event_id)
         |                IS NULL
         |              OR ts_sec - lag(ts_sec) OVER
         |                (PARTITION BY event_type ORDER BY ts_sec, event_id)
         |                > 21600
         |              THEN 1 ELSE 0 END AS nb,
         |         event_id
         |  FROM hv
         |), bseq AS (
         |  SELECT event_type, ts_sec,
         |         CAST(sum(nb) OVER
         |           (PARTITION BY event_type ORDER BY ts_sec, event_id)
         |           AS INT) AS burst_seq
         |  FROM bflag
         |), bursts AS (
         |  SELECT event_type, burst_seq,
         |         min(ts_sec) AS b_start, max(ts_sec) AS b_end
         |  FROM bseq GROUP BY event_type, burst_seq
         |)
         |SELECT s.user_id, s.session_seq, s.start_sec, s.end_sec,
         |       b.event_type, b.burst_seq, b.b_start, b.b_end,
         |       least(s.end_sec, b.b_end) - greatest(s.start_sec, b.b_start)
         |         + 1 AS overlap_sec
         |FROM sessions s
         |JOIN bursts b
         |  ON s.start_sec <= b.b_end AND b.b_start <= s.end_sec""".stripMargin,
  )
}
