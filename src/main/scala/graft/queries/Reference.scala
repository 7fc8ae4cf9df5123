package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.StandIn
import graft.ops.{AlertLifecycle, AlertRules, Aggregates, Bpe, Curation, Dedup, Multimodal, Parse, Profile, Sessionize, Similarity, TextAnalysis, TextRules}
import graft.queries.QueryShared._

/** Reference-parity queries: the alert chain, parse/JSON round-trips, casts, filters, windowed aggregates, and the synthetic-generator twins.
  *
  * Registry contract: [[queries]] and [[oracleSql]] fold into
  * [[graft.SparkEntry]]; keys must stay globally unique across the
  * Queries* objects (asserted in QueryRegistrySpec).
  */
object QueriesReference {

  /** P1-P3 + C1-C4 + F1: the complete alert-detector chain
    * (reference: alert_detector.py:82-209), including a real JSON parse:
    * readings are serialized to A.1-shaped JSON and re-parsed through
    * Parse.jsonToReadings before classification. */
  private def alertsClassify(s: SparkSession, dir: String): DataFrame = {
    val readings = StandIn.readingsFromEvents(StandIn.events(s, dir))
    val parsed = Parse.jsonToReadings(Parse.readingsToJson(readings.drop("event_time")))
    AlertRules.detect(parsed)
  }

  /** P1-P3, P8-P9: JSON serialize → parse → flatten round-trip. */
  private def parseReadings(s: SparkSession, dir: String): DataFrame = {
    val readings = StandIn.readingsFromEvents(StandIn.events(s, dir))
    Parse.jsonToReadings(Parse.readingsToJson(readings.drop("event_time")))
  }

  /** A1-A4: tumbling 4-minute window, avg/min/max/count per sensor
    * (reference: data_agregator.py:74-95; batch-bucket oracle per SURVEY §5.3). */
  private def aggSensorStats(s: SparkSession, dir: String): DataFrame = {
    val readings = StandIn.readingsFromEvents(StandIn.events(s, dir))
    Aggregates.sensorStats(readings)
      .withColumn("avg_value", round(col("avg_value"), 4))
  }

  private def aggSlidingStats(s: SparkSession, dir: String): DataFrame =
    Aggregates.slidingStats(
      StandIn.readingsFromEvents(StandIn.events(s, dir)),
      timeCol = "event_time", keys = Seq("sensor_id", "sensor_type"),
      valueCol = "value")

  /** P2: bare from_json field extraction. */
  private def jsonParse(s: SparkSession, dir: String): DataFrame =
    StandIn.events(s, dir).select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").alias("k"))

  /** P9→P2: to_json/from_json round-trip is the identity. */
  private def jsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    StandIn.events(s, dir)
      .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).alias("j"))
      .select(from_json(col("j"), org.apache.spark.sql.types.StructType
        .fromDDL("event_id BIGINT, event_type STRING, value DOUBLE")).alias("d"))
      .select(col("d.event_id").alias("event_id"),
              col("d.event_type").alias("event_type"),
              col("d.value").alias("value"))

  /** P4: timestamp → string → timestamp casts. */
  private def castTimestamp(s: SparkSession, dir: String): DataFrame =
    StandIn.events(s, dir).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").cast("timestamp").alias("ts_rt"))

  /** F4: SQL LIKE (reference: alert_detector.py:172-173,200). */
  private def filterLike(s: SparkSession, dir: String): DataFrame =
    StandIn.table(s, dir, "part")
      .where(col("p_type").like("ECO%"))
      .select(col("p_partkey"), col("p_name"), col("p_type"))

  /** F2+F3: comparison predicates with boolean conjunction/disjunction
    * (reference: alert_detector.py:107-153 rule guards). */
  private def filterPredicates(s: SparkSession, dir: String): DataFrame =
    StandIn.table(s, dir, "lineitem")
      .where((col("l_quantity") > 45 || col("l_discount") < 0.02) &&
             col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
              col("l_discount"), col("l_returnflag"))

  /** Stateful lifecycle: flatMapGroupsWithState active→resolved transitions
    * over the events stand-in. The oracle recomputes the same transitions
    * declaratively (gaps-and-islands over lag windows) — an independent
    * cross-paradigm check of the state machine.
    */
  private def alertLifecycle(s: SparkSession, dir: String): DataFrame =
    AlertLifecycle.transitions(
      StandIn.readingsFromEvents(StandIn.events(s, dir))).toDF()

  /** F5: severity isin filter — the mail-notifier predicate
    * (reference: gestionnaire_mail.py:79-83), over real detected alerts. */
  private def alertsMailable(s: SparkSession, dir: String): DataFrame =
    alertsClassify(s, dir)
      .where(col("severity").isin("critical", "warning"))
      .select(col("sensor_id"), col("timestamp"), col("alert_type"),
              col("severity"), col("message"), col("actual_value"))

  // ─── north-star: deduplication over documents ──────────────────────────

  private val R = StandIn.readingsSql("events")

  private val classifySql =
    """CASE
      | WHEN sensor_type='temperature' AND unit='celsius' AND (value<15 OR value>30) THEN 'temperature_critical'
      | WHEN sensor_type='temperature' AND unit='celsius' AND value>27 THEN 'temperature_warning'
      | WHEN sensor_type='humidity' AND unit='percent' AND (value<30 OR value>70) THEN 'humidity_critical'
      | WHEN sensor_type='humidity' AND unit='percent' AND (value<35 OR value>60) THEN 'humidity_warning'
      | WHEN sensor_type='pressure' AND unit='hPa' AND (value<980 OR value>1040) THEN 'pressure_critical'
      | WHEN sensor_type='pressure' AND unit='hPa' AND (value<995 OR value>1030) THEN 'pressure_warning'
      | WHEN battery_level<20 THEN 'battery_critical'
      | WHEN battery_level<40 THEN 'battery_warning'
      | WHEN signal_strength<-75 THEN 'weak_signal_critical'
      | WHEN signal_strength<-70 THEN 'weak_signal_warning'
      | ELSE NULL END""".stripMargin

  private val enrichSql =
    """sensor_id, sensor_type, building, floor, room, timestamp,
      | battery_level, signal_strength, alert_type,
      | CASE WHEN alert_type LIKE '%critical%' THEN 'critical'
      |      WHEN alert_type LIKE '%warning%' THEN 'warning'
      |      ELSE 'info' END AS severity,
      | CASE alert_type WHEN 'temperature_critical' THEN 30
      |   WHEN 'temperature_warning' THEN 27
      |   WHEN 'humidity_critical' THEN 70
      |   WHEN 'humidity_warning' THEN 60
      |   WHEN 'pressure_critical' THEN 1040
      |   WHEN 'pressure_warning' THEN 1030
      |   WHEN 'battery_critical' THEN 20
      |   WHEN 'battery_warning' THEN 40
      |   WHEN 'weak_signal_critical' THEN -75
      |   WHEN 'weak_signal_warning' THEN -70
      |   ELSE NULL END AS threshold_value,
      | value AS actual_value,
      | CASE WHEN alert_type='temperature_critical' THEN 'Température CRITIQUE (>30°C ou <15°C)'
      |   WHEN alert_type='temperature_warning' THEN 'Température élevée (>27°C)'
      |   WHEN alert_type='humidity_critical' THEN 'Humidité CRITIQUE (<30% ou >70%)'
      |   WHEN alert_type='humidity_warning' THEN 'Humidité anormale (<35% ou >60%)'
      |   WHEN alert_type='pressure_critical' THEN 'Pression atmosphérique anormale (<980 ou >1040 hPa)'
      |   WHEN alert_type='pressure_warning' THEN 'Pression hors plage (<995 ou >1030 hPa)'
      |   WHEN alert_type='battery_critical' THEN 'Batterie CRITIQUE (<20%)'
      |   WHEN alert_type='battery_warning' THEN 'Batterie faible (<40%)'
      |   WHEN alert_type LIKE 'weak_signal_%' THEN 'Signal WiFi IoT faible'
      |   ELSE 'Anomalie détectée' END AS message,
      | event_time AS triggered_at,
      | CAST(NULL AS TIMESTAMP) AS resolved_at,
      | 'active' AS status""".stripMargin

  private val alertsClassifyOracle =
    s"""$R, classified AS (
       |  SELECT *, $classifySql AS alert_type FROM readings
       |)
       |SELECT $enrichSql
       |FROM classified WHERE alert_type IS NOT NULL""".stripMargin

  // ─── driver contract ───────────────────────────────────────────────────

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "alerts_classify"   -> ((s, d) => alertsClassify(s, d)),

    "parse_readings"    -> ((s, d) => parseReadings(s, d)),

    "agg_sensor_stats"  -> ((s, d) => aggSensorStats(s, d)),

    "agg_sliding_stats" -> ((s, d) => aggSlidingStats(s, d)),

    "json_parse"        -> ((s, d) => jsonParse(s, d)),

    "json_roundtrip"    -> ((s, d) => jsonRoundtrip(s, d)),

    "cast_timestamp"    -> ((s, d) => castTimestamp(s, d)),

    "filter_like"       -> ((s, d) => filterLike(s, d)),

    "filter_predicates" -> ((s, d) => filterPredicates(s, d)),

    "alerts_mailable"   -> ((s, d) => alertsMailable(s, d)),

    "json_props_stats"    -> ((s, d) =>
      Parse.propsKeyStats(StandIn.events(s, d))),

    "alert_lifecycle"     -> ((s, d) => alertLifecycle(s, d)),

    // S5 generator twin — xxhash64-seeded, so no DuckDB twin exists; the
    // driver records a rows-only check (unit tests pin determinism and
    // distributions, GeneratorSpec).
    "gen_readings"        -> ((s, d) =>
      graft.sim.Generator.batch(s, 24000).where(col("value").isNotNull)),

    // Contract audit of the generator: exact counts + pinned envelope /
    // rate booleans, oracle-literal (see Generator.batchAudit scaladoc).
    "gen_readings_audit"  -> ((s, d) =>
      graft.sim.Generator.batchAudit(s, 24000)),
  )

  def oracleSql: Map[String, String] = Map(
    "alerts_classify" -> alertsClassifyOracle,

    "parse_readings" ->
      s"""$R
         |SELECT sensor_id, sensor_type, building, floor, room, timestamp,
         |       value, unit, battery_level, signal_strength
         |FROM readings""".stripMargin,

    // Timezone-independent window arithmetic: make_timestamp(µs) mirrors
    // Spark's epoch-aligned tumbling windows regardless of session TZ.
    "agg_sensor_stats" ->
      s"""$R
         |SELECT make_timestamp((epoch_us(event_time) // 240000000) * 240000000) AS window_start,
         |       make_timestamp((epoch_us(event_time) // 240000000) * 240000000 + 240000000) AS window_end,
         |       sensor_id, sensor_type,
         |       round(avg(value), 4) AS avg_value,
         |       min(value) AS min_value,
         |       max(value) AS max_value,
         |       count(*) AS count
         |FROM readings
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // Sliding-window twin (Aggregates.slidingStats): each event is
    // replicated into window/slide = 4 overlapping windows whose starts
    // are the slide-aligned epochs at or before it — the same window
    // assignment Spark's window(ts, dur, slide) performs.
    "agg_sliding_stats" ->
      s"""$R, wins AS (
         |  SELECT sensor_id, sensor_type, value,
         |         (epoch_us(event_time) // 60000000) * 60000000
         |           - k.k * 60000000 AS ws
         |  FROM readings
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
         |)
         |SELECT sensor_id, sensor_type,
         |       make_timestamp(ws) AS window_start,
         |       make_timestamp(ws + 240000000) AS window_end,
         |       round(avg(value), 4) AS avg_value,
         |       count(*) AS count
         |FROM wins
         |GROUP BY sensor_id, sensor_type, ws""".stripMargin,

    "json_parse" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",

    "json_roundtrip" ->
      "SELECT event_id, event_type, value FROM events",

    "cast_timestamp" ->
      """SELECT event_id,
        |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |       CAST(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS TIMESTAMP) AS ts_rt
        |FROM events""".stripMargin,

    "filter_like" ->
      "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE 'ECO%'",

    "filter_predicates" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
        |FROM lineitem
        |WHERE (l_quantity > 45 OR l_discount < 0.02) AND l_returnflag = 'R'""".stripMargin,

    "alerts_mailable" ->
      s"""$R, classified AS (
         |  SELECT *, $classifySql AS alert_type FROM readings
         |), alerts AS (
         |  SELECT $enrichSql
         |  FROM classified WHERE alert_type IS NOT NULL
         |)
         |SELECT sensor_id, timestamp, alert_type, severity, message, actual_value
         |FROM alerts WHERE severity IN ('critical', 'warning')""".stripMargin,

    // Props-extraction twin (Parse.propsKeyStats): the same single-path
    // regex probe, no JSON extension required.
    "json_props_stats" ->
      """WITH x AS (
        |  SELECT event_type,
        |         CASE WHEN regexp_extract(props, '"k":\s*(-?\d+)', 1) <> ''
        |              THEN CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1)
        |                        AS INT) END AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n, count(k) AS n_with_k,
        |       count(*) - count(k) AS n_missing,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM x GROUP BY event_type""".stripMargin,

    // Declarative twin of the flatMapGroupsWithState lifecycle: runs of
    // equal alert_type per sensor (gaps-and-islands); an 'active' row opens
    // each non-null run, a 'resolved' row closes it at the first row of the
    // next run.
    "alert_lifecycle" ->
      s"""$R, classified AS (
         |  SELECT sensor_id, event_time, $classifySql AS alert_type
         |  FROM readings
         |), lagged AS (
         |  SELECT sensor_id, event_time, alert_type,
         |         lag(alert_type) OVER
         |           (PARTITION BY sensor_id ORDER BY event_time) AS prev
         |  FROM classified
         |), seq AS (
         |  SELECT sensor_id, event_time, alert_type,
         |         count(CASE WHEN alert_type IS DISTINCT FROM prev
         |                    THEN 1 END)
         |           OVER (PARTITION BY sensor_id ORDER BY event_time
         |                 ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM lagged
         |), runs AS (
         |  SELECT sensor_id, run_id, alert_type,
         |         min(event_time) AS run_start
         |  FROM seq GROUP BY 1, 2, 3
         |), actives AS (
         |  SELECT sensor_id, alert_type, 'active' AS status,
         |         run_start AS triggered_at,
         |         CAST(NULL AS TIMESTAMP) AS resolved_at
         |  FROM runs WHERE alert_type IS NOT NULL
         |), resolveds AS (
         |  SELECT r.sensor_id, p.alert_type, 'resolved' AS status,
         |         p.run_start AS triggered_at,
         |         r.run_start AS resolved_at
         |  FROM runs r
         |  JOIN runs p ON p.sensor_id = r.sensor_id
         |             AND p.run_id = r.run_id - 1
         |  WHERE p.alert_type IS NOT NULL
         |)
         |SELECT * FROM actives UNION ALL SELECT * FROM resolveds"""
        .stripMargin,

    // Generator contract audit twin: the readings are xxhash64-seeded (no
    // SQL can reproduce the draws) but the CONTRACT is literal — exact
    // per-type counts (24000 % 3 split), 8 sensors each, the unit map, and
    // the five envelope/rate booleans pinned TRUE. A generator regression
    // flips a hash-checked bit even though the oracle never sees a draw.
    "gen_readings_audit" ->
      """SELECT t.sensor_type, CAST(8000 AS BIGINT) AS n_rows,
        |       CAST(8 AS BIGINT) AS n_sensors, t.unit,
        |       TRUE AS unit_uniform, TRUE AS vals_in_envelope,
        |       TRUE AS battery_in_range, TRUE AS signal_in_range,
        |       TRUE AS anomalies_present, TRUE AS anomaly_rate_bounded
        |FROM (VALUES ('temperature', 'celsius'), ('humidity', 'percent'),
        |             ('pressure', 'hPa')) AS t(sensor_type, unit)"""
        .stripMargin,
  )
}
