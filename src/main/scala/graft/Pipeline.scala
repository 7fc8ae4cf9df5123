package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.{AlertNotifier, LoggingNotifier, Sinks, Sources}
import graft.ops.{Aggregates, AlertRules, Parse}

/** O1-O2: wires sources → ops → sinks into the reference's four long-running
  * units and supervises them (reference: main.py:19-67).
  *
  * Differences from the reference, all deliberate (SURVEY §2.9):
  *   - the alert detector is ONE query with a dual sink, not two queries
  *     re-reading Kafka (§2.9.4);
  *   - every query is checkpointed (§2.9.3);
  *   - the mail consumer is a fourth streaming query instead of a blocking
  *     driver loop (§3.4);
  *   - supervision uses `awaitAnyTermination` instead of a 1 s poll loop.
  *
  * Each `xxxFrame` method is the pure transformation half (testable over
  * MemoryStream or batch frames); each `startXxx` method binds it to real
  * sources/sinks.
  */
final class Pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    notifier: AlertNotifier = new LoggingNotifier) {

  // ─── pure transformation halves ─────────────────────────────────────────

  /** Kafka frame → flat readings with event_time, the persistence shape
    * (reference: data_persistance.py:75-89).
    */
  def readingsFrame(kafka: DataFrame): DataFrame =
    Parse.withEventTime(Parse.fromKafka(kafka))

  /** Kafka frame → enriched alerts (reference: alert_detector.py:82-209),
    * including the streaming-only `created_at = current_timestamp()`.
    */
  def alertsFrame(kafka: DataFrame): DataFrame =
    AlertRules.detect(Parse.fromKafka(kafka), withCreatedAt = true)

  /** Kafka frame → watermarked 4-minute windowed stats
    * (reference: data_agregator.py:64-95).
    */
  def aggregatesFrame(kafka: DataFrame): DataFrame =
    Aggregates.sensorStats(
      Parse.withEventTime(Parse.fromKafka(kafka)), streaming = true)

  /** iot-alert Kafka frame → mailable alerts (reference:
    * gestionnaire_mail.py:79-83): parse the alert payload, keep
    * critical/warning.
    */
  def mailableFrame(alertKafka: DataFrame): DataFrame = {
    val payloadSchema = graft.model.Schemas.alertPayload
    alertKafka
      .selectExpr("CAST(value AS STRING) AS json_str")
      .select(from_json(col("json_str"), payloadSchema).alias("a"))
      .select(col("a.sensor_id").alias("sensor_id"),
        col("a.sensor_type").alias("sensor_type"),
        col("a.location.building").alias("building"),
        col("a.location.floor").alias("floor"),
        col("a.location.room").alias("room"),
        col("a.metadata.battery_level").alias("battery_level"),
        col("a.metadata.signal_strength").alias("signal_strength"),
        col("a.alert_type").alias("alert_type"),
        col("a.severity").alias("severity"),
        col("a.threshold_value").alias("threshold_value"),
        col("a.actual_value").alias("actual_value"),
        col("a.message").alias("message"),
        col("a.triggered_at").alias("triggered_at"))
      .where(col("severity").isin("critical", "warning"))
  }

  // ─── query starters ─────────────────────────────────────────────────────

  def startPersistence(): StreamingQuery =
    track(Sinks.jdbcStream(
      readingsFrame(Sources.sensorStream(spark, cfg)),
      cfg.jdbc, cfg.jdbc.readingsTable,
      cfg.checkpointRoot, "sensor_persistence"))

  def startAlerts(): StreamingQuery =
    track(Sinks.alertsDualSink(alertsFrame(Sources.sensorStream(spark, cfg)), cfg))

  def startAggregator(): StreamingQuery =
    track(Sinks.jdbcStream(
      aggregatesFrame(Sources.sensorStream(spark, cfg)),
      cfg.jdbc, cfg.jdbc.aggregatesTable,
      cfg.checkpointRoot, "sensor_aggregates"))

  def startMailNotifier(): StreamingQuery =
    track(Sinks.notifierSink(
      mailableFrame(Sources.alertStream(spark, cfg)), cfg, notifier))

  // Queries THIS pipeline started — stopAll must not reach into
  // spark.streams.active, which would tear down unrelated queries sharing
  // the session (tests, co-hosted jobs).
  private val started =
    scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]

  private[graft] def track(q: StreamingQuery): StreamingQuery =
    synchronized { started += q; q }

  /** Start all four units (reference: main.py:24-44). */
  def startAll(): Seq[StreamingQuery] =
    Seq(startPersistence(), startAlerts(), startAggregator(),
      startMailNotifier())

  /** Block until any query dies; then stop the rest
    * (replaces main.py:48-67's poll loop).
    */
  def runUntilTermination(): Unit =
    try spark.streams.awaitAnyTermination()
    finally stopAll()

  /** Stop every query this pipeline started (and only those). A query
    * that fails to stop is logged and the rest are still stopped; a fatal
    * error or an interrupt is rethrown once every stop has been tried.
    */
  def stopAll(): Unit = synchronized {
    var fatal: Throwable = null
    started.foreach { q =>
      try q.stop()
      catch {
        case NonFatal(e) =>
          println(s"[pipeline] failed to stop ${q.name}: $e")
        case e: Throwable =>
          if (fatal == null) fatal = e
      }
    }
    started.clear()
    if (fatal != null) throw fatal
  }
}
