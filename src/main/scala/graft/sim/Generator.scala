package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5: deterministic twin of the reference's sensor simulator
  * (reference: simulators/sensor_simulator.py:15-146).
  *
  * The reference draws from `random` and wall-clock time; this twin derives
  * every "random" quantity from `xxhash64(row_id, salt)` so a given (seed,
  * row id) always produces the same reading — generation is reproducible,
  * distributed (pure column expressions over `range`/`rate`, no driver
  * loop), and testable. Distributions mirror the reference:
  *   - 24 sensors: building A × floors {1,2} × rooms {100..103} ×
  *     {temperature, humidity, pressure} (sensor_simulator.py:9-12,129-134)
  *   - sinusoidal baseline per sensor with a per-sensor phase (:23-27,51,66,85)
  *   - anomaly injection: temp 0.1 % critical / 0.3 % warning; humidity the
  *     same; pressure 0.15 % / 0.35 % (:53-62,68-81,87-98)
  *   - battery: 0.1 % critical (5-19), 0.2 % warning (20-39), else 40-100
  *     (:40-47); signal: 0.2 % critical (-90..-76), 0.4 % warning
  *     (-75..-71), else -70..-40 (:32-38)
  *   - value rounded to 2 decimals; ISO timestamp; unit per type (:108-119)
  */
object Generator {

  private val SensorTypes = Seq("temperature", "humidity", "pressure")

  /** Uniform [0, 1) derived from (column, salt) — the deterministic stand-in
    * for `random.random()`.
    */
  private def u(c: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(c, lit(salt), lit(seed)), lit(1000000L)) / 1000000.0

  /** Uniform integer in [lo, hi] (inclusive), like `random.randint`. */
  private def uniformInt(c: Column, salt: Int, seed: Long, lo: Int, hi: Int): Column =
    (pmod(xxhash64(c, lit(salt), lit(seed)), lit((hi - lo + 1).toLong)) + lo)
      .cast("int")

  private def uniformDouble(c: Column, salt: Int, seed: Long, lo: Double, hi: Double): Column =
    u(c, salt, seed) * (hi - lo) + lo

  /** Flat canonical readings from a frame holding `gen_id` (unique long) and
    * `event_time` (timestamp). Works identically over batch `range` and the
    * streaming `rate` source — same column expressions, same codegen.
    */
  def readingsFrom(ids: DataFrame, seed: Long = 42L): DataFrame = {
    val id = col("gen_id")
    val sensorIdx = pmod(id, lit(24L)).cast("int")
    val typeIdx = pmod(id, lit(3L)).cast("int")
    val sensorType = element_at(
      array(SensorTypes.map(lit): _*), typeIdx + 1)
    val floorC = (sensorIdx / 12 + 1).cast("int")
    val roomC = (sensorIdx / 3 % 4 + 100).cast("int")
    val sensorId = concat_ws("_", lit("A"), floorC, roomC, sensorType)

    // Per-sensor phase and targets (sensor_simulator.py:23-27), derived
    // from the sensor identity so they are stable across rows.
    val phase = u(sensorId, 1, seed) * 2.0 * math.Pi
    val targetTemp = u(sensorId, 2, seed) * 5.0 + 20.0
    val targetHumid = u(sensorId, 3, seed) * 15.0 + 40.0
    val targetPress = u(sensorId, 4, seed) * 10.0 + 1010.0

    val nowSec = unix_timestamp(col("event_time")).cast("double")

    def baseline(target: Column, amp: Double, periodSec: Double): Column =
      target + sin(nowSec / periodSec * 2.0 * math.Pi + phase) * amp

    val anomaly = u(id, 5, seed)
    val pick = u(id, 6, seed) // direction choice within an anomaly branch

    val tempValue =
      when(anomaly < 0.001,
        when(pick < 0.7, uniformDouble(id, 7, seed, 30.1, 35.0))
          .otherwise(uniformDouble(id, 8, seed, 10.0, 14.9)))
      .when(anomaly < 0.004, uniformDouble(id, 9, seed, 27.1, 29.9))
      .otherwise(baseline(targetTemp, 1.0, 60.0) +
        uniformDouble(id, 10, seed, -0.5, 0.5))

    val humidValue =
      when(anomaly < 0.001,
        when(pick < 0.5, uniformDouble(id, 11, seed, 15.0, 29.9))
          .otherwise(uniformDouble(id, 12, seed, 70.1, 85.0)))
      .when(anomaly < 0.004,
        when(pick < 0.5, uniformDouble(id, 13, seed, 30.0, 34.9))
          .otherwise(uniformDouble(id, 14, seed, 60.1, 69.9)))
      .otherwise(baseline(targetHumid, 2.0, 90.0) +
        uniformDouble(id, 15, seed, -1.0, 1.0))

    val pressValue =
      when(anomaly < 0.0015,
        when(pick < 0.5, uniformDouble(id, 16, seed, 950.0, 979.9))
          .otherwise(uniformDouble(id, 17, seed, 1040.1, 1060.0)))
      .when(anomaly < 0.005,
        when(pick < 0.5, uniformDouble(id, 18, seed, 980.0, 994.9))
          .otherwise(uniformDouble(id, 19, seed, 1030.1, 1039.9)))
      .otherwise(baseline(targetPress, 1.5, 120.0) +
        uniformDouble(id, 20, seed, -0.5, 0.5))

    val value = round(
      when(sensorType === "temperature", tempValue)
        .when(sensorType === "humidity", humidValue)
        .otherwise(pressValue), 2)

    val batteryChance = u(id, 21, seed)
    val battery =
      when(batteryChance < 0.001, uniformInt(id, 22, seed, 5, 19))
        .when(batteryChance < 0.003, uniformInt(id, 23, seed, 20, 39))
        .otherwise(uniformInt(id, 24, seed, 40, 100))

    val signalChance = u(id, 25, seed)
    val signal =
      when(signalChance < 0.002, uniformInt(id, 26, seed, -90, -76))
        .when(signalChance < 0.006, uniformInt(id, 27, seed, -75, -71))
        .otherwise(uniformInt(id, 28, seed, -70, -40))

    val unit = when(sensorType === "temperature", "celsius")
      .when(sensorType === "humidity", "percent")
      .otherwise("hPa")

    ids.select(
      sensorId.alias("sensor_id"),
      sensorType.alias("sensor_type"),
      lit("A").alias("building"),
      floorC.alias("floor"),
      roomC.alias("room"),
      date_format(col("event_time"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .alias("timestamp"),
      value.alias("value"),
      unit.alias("unit"),
      battery.alias("battery_level"),
      signal.alias("signal_strength"))
  }

  /** Batch twin: `n` readings starting at `startEpochSec`, one sweep of the
    * 24 sensors every 3 seconds (sensor_simulator.py:139-146).
    */
  def batch(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      startEpochSec: Long = 1767225600L /* 2026-01-01T00:00:00Z */): DataFrame = {
    val ids = spark.range(n)
      .select(
        col("id").alias("gen_id"),
        // integer division: all 24 sensors of a sweep share one timestamp,
        // 3 s apart per sweep (Column `/` would be double division and
        // smear fractional timestamps across the sweep)
        timestamp_seconds(lit(startEpochSec) + expr("id div 24") * 3)
          .alias("event_time"))
    readingsFrom(ids, seed)
  }

  /** Oracle-checkable audit of [[batch]] — the same bounded-contract
    * upgrade as the sketch `_audit` queries: the generator's output is
    * hash-seeded (no DuckDB twin can reproduce xxhash64 draws), but its
    * CONTRACT is exact and pinnable. Per sensor type: the row count
    * (`n % 3` split is exact), the 8-sensor fan-out, the unit string, and
    * five pinned booleans — values inside the documented anomaly envelope
    * (sensor_simulator.py:51-98 bounds), battery ∈ [5,100] / signal ∈
    * [-90,-40] (:32-47), anomalies present, and the anomaly rate under 1 %
    * (nominal-envelope exits; injection draws at 0.4-0.5 %). Deterministic
    * for a fixed (seed, n), so the oracle pins every boolean TRUE and the
    * exact counts as literals: a generator regression (envelope drift,
    * broken anomaly branch, wrong unit map) flips a hash-checked bit.
    */
  def batchAudit(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L): DataFrame = {
    val r = batch(spark, n, seed)
    // (nominal lo/hi, hard envelope lo/hi) per type: nominal = baseline ±
    // amplitude ± noise; envelope = the extreme anomaly draw bounds.
    val bounds = Map(
      "temperature" -> (18.0, 27.0, 10.0, 35.0),
      "humidity"    -> (36.0, 59.0, 15.0, 85.0),
      "pressure"    -> (1007.5, 1022.5, 950.0, 1060.0))
    def perType(f: ((Double, Double, Double, Double)) => Column): Column =
      bounds.foldLeft(lit(null).cast("double")) { case (acc, (t, b)) =>
        when(col("sensor_type") === t, f(b)).otherwise(acc)
      }
    val nomLo = perType { case (lo, _, _, _) => lit(lo) }
    val nomHi = perType { case (_, hi, _, _) => lit(hi) }
    val envLo = perType { case (_, _, lo, _) => lit(lo) }
    val envHi = perType { case (_, _, _, hi) => lit(hi) }
    r.select(col("sensor_type"), col("sensor_id"), col("value"),
        col("unit"), col("battery_level"), col("signal_strength"),
        (col("value") < nomLo || col("value") > nomHi).cast("long")
          .alias("is_anomalous"),
        (col("value") >= envLo && col("value") <= envHi).cast("long")
          .alias("in_envelope"))
      .groupBy(col("sensor_type"))
      .agg(
        count(lit(1)).alias("n_rows"),
        countDistinct(col("sensor_id")).alias("n_sensors"),
        min(col("unit")).alias("unit"),
        (min(col("unit")) === max(col("unit"))).alias("unit_uniform"),
        (sum(col("in_envelope")) === count(lit(1)))
          .alias("vals_in_envelope"),
        (min(col("battery_level")) >= 5 && max(col("battery_level")) <= 100)
          .alias("battery_in_range"),
        (min(col("signal_strength")) >= -90 &&
          max(col("signal_strength")) <= -40).alias("signal_in_range"),
        (sum(col("is_anomalous")) > 0).alias("anomalies_present"),
        (sum(col("is_anomalous")) < count(lit(1)) * 0.01)
          .alias("anomaly_rate_bounded"))
  }

  /** Streaming twin over the rate source: rowsPerSecond readings/s with the
    * rate source's event time. Feed `Parse.readingsToJson(...)` into a
    * Kafka sink to reproduce the reference's producer loop end-to-end.
    */
  def stream(spark: SparkSession, rowsPerSecond: Int = 8, seed: Long = 42L): DataFrame = {
    val ids = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").alias("gen_id"), col("timestamp").alias("event_time"))
    readingsFrom(ids, seed)
  }
}
