package graft.model

import org.apache.spark.sql.types._

/** Canonical data model for the engine.
  *
  * The reference declares three divergent schemas for the same ingest topic
  * (reference: spark_processing/data_persistance.py:21-36 — value float /
  * room string; spark_processing/alert_detector.py:20-35 — value double /
  * room int; spark_processing/data_agregator.py:20-25 — narrow 4-field with
  * native timestamp). Per SURVEY §2.9.2 we freeze ONE canonical schema:
  * value: double, floor/room: int (the simulator emits int rooms 100-103,
  * simulators/sensor_simulator.py:107), timestamp: raw ISO-8601 string at
  * ingest, cast to TimestampType downstream where event time is needed.
  *
  * Everything is nullable (PERMISSIVE JSON parse nulls out malformed rows
  * instead of failing, matching the reference's default from_json mode).
  */
object Schemas {

  val location: StructType = StructType(Seq(
    StructField("building", StringType),
    StructField("floor", IntegerType),
    StructField("room", IntegerType)))

  val metadata: StructType = StructType(Seq(
    StructField("battery_level", IntegerType),
    StructField("signal_strength", IntegerType)))

  /** Wire schema of one sensor reading (JSON message on the ingest topic;
    * shape: simulators/sensor_simulator.py:100-115). */
  val sensorReading: StructType = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("sensor_type", StringType),
    StructField("location", location),
    StructField("timestamp", StringType),
    StructField("value", DoubleType),
    StructField("unit", StringType),
    StructField("metadata", metadata)))

  /** Flat (post-parse) reading schema, canonical order: what
    * Parse.jsonToReadings emits.
    */
  val flatReadingSchema: StructType = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("sensor_type", StringType),
    StructField("building", StringType),
    StructField("floor", IntegerType),
    StructField("room", IntegerType),
    StructField("timestamp", StringType),
    StructField("value", DoubleType),
    StructField("unit", StringType),
    StructField("battery_level", IntegerType),
    StructField("signal_strength", IntegerType)))

  /** Wire schema of one alert on the `iot-alert` topic — the single source
    * of truth for BOTH the producer (AlertPayload.toKafka's struct) and the
    * consumer (Pipeline.mailableFrame's from_json). PERMISSIVE parsing
    * would silently null out drifted fields if the two sides diverged.
    * (Shape: alert_detector.py:216-240 — resolved_at/created_at omitted.)
    */
  val alertPayload: StructType = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("sensor_type", StringType),
    StructField("timestamp", StringType),
    StructField("location", location),
    StructField("metadata", metadata),
    StructField("alert_type", StringType),
    StructField("severity", StringType),
    StructField("threshold_value", IntegerType),
    StructField("actual_value", DoubleType),
    StructField("message", StringType),
    StructField("triggered_at", TimestampType),
    StructField("status", StringType)))

  // Typed views for Dataset[T] use at module boundaries (SURVEY §1.4).
  case class Location(building: String, floor: Option[Int], room: Option[Int])
  case class Metadata(battery_level: Option[Int], signal_strength: Option[Int])
  case class SensorReading(
      sensor_id: String,
      sensor_type: String,
      location: Location,
      timestamp: String,
      value: Option[Double],
      unit: String,
      metadata: Metadata)

  case class FlatReading(
      sensor_id: String,
      sensor_type: String,
      building: String,
      floor: Option[Int],
      room: Option[Int],
      timestamp: String,
      value: Option[Double],
      unit: String,
      battery_level: Option[Int],
      signal_strength: Option[Int])
}
