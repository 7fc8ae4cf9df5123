package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Windowed statistics: event-time watermark + tumbling window +
  * avg/min/max/count (reference: spark_processing/data_agregator.py:74-95).
  *
  * One generic operator; `sensorStats` is the reference-parity
  * specialization. In streaming mode this is the engine's only stateful /
  * shuffling computation: partial HashAggregate → shuffle on (window, keys)
  * → state store merge. At 100 TB the state is bounded by
  * (#distinct keys × windows-in-flight), which the 1-minute watermark caps;
  * the shuffle keys include the window start so partitions stay balanced
  * over time rather than hot-spotting on a single "current" window.
  */
object Aggregates {

  /** Tumbling-window stats over any frame.
    *
    * @param timeCol   event-time column (TimestampType)
    * @param keys      grouping keys beside the window
    * @param valueCol  measure column
    * @param windowDur e.g. "4 minutes" (reference: data_agregator.py:76)
    * @param watermarkDelay when Some(d) (streaming), applies
    *   `withWatermark(timeCol, d)` so append-mode can finalize windows and
    *   state is bounded (reference: data_agregator.py:74, "1 minute").
    */
  def windowedStats(
      df: DataFrame,
      timeCol: String,
      keys: Seq[String],
      valueCol: String,
      windowDur: String = "4 minutes",
      watermarkDelay: Option[String] = None): DataFrame = {
    val base = watermarkDelay.fold(df)(d => df.withWatermark(timeCol, d))
    val groupCols: Seq[Column] = window(col(timeCol), windowDur) +: keys.map(col)
    base
      .groupBy(groupCols: _*)
      .agg(
        avg(valueCol).alias("avg_value"),
        min(valueCol).alias("min_value"),
        max(valueCol).alias("max_value"),
        count(lit(1)).alias("count"))
      .select(
        (keys.map(col) ++
          Seq(
            col("window.start").alias("window_start"),
            col("window.end").alias("window_end"),
            col("avg_value"), col("min_value"), col("max_value"),
            col("count"))): _*) // column order mirrors data_agregator.py:86-95
  }

  /** Reference-parity aggregation: 4-minute tumbling windows per
    * (sensor_id, sensor_type) with a 1-minute watermark when streaming
    * (reference: data_agregator.py:74-95). Expects an `event_time`
    * TimestampType column (Parse.withEventTime). */
  def sensorStats(readings: DataFrame, streaming: Boolean = false): DataFrame =
    windowedStats(
      readings,
      timeCol = "event_time",
      keys = Seq("sensor_id", "sensor_type"),
      valueCol = "value",
      windowDur = "4 minutes",
      watermarkDelay = if (streaming) Some("1 minute") else None)

  /** SLIDING-window stats — the smoothed dashboard view (each event lands
    * in `windowDur / slideDur` overlapping windows; Spark's `window()`
    * with a slide plans the replication map-side, state stays
    * (keys × windows-in-flight) like the tumbling form). Completes the
    * windowing family: tumbling ([[windowedStats]]), session
    * (Sessionize.streamingSessions), sliding (here) — all three run
    * identically in batch and streaming.
    */
  def slidingStats(
      df: DataFrame,
      timeCol: String,
      keys: Seq[String],
      valueCol: String,
      windowDur: String = "4 minutes",
      slideDur: String = "1 minute",
      watermarkDelay: Option[String] = None): DataFrame = {
    val base = watermarkDelay.fold(df)(d => df.withWatermark(timeCol, d))
    val groupCols: Seq[Column] =
      window(col(timeCol), windowDur, slideDur) +: keys.map(col)
    base
      .groupBy(groupCols: _*)
      .agg(
        round(avg(valueCol), 4).alias("avg_value"),
        count(lit(1)).alias("count"))
      .select(
        (keys.map(col) ++
          Seq(
            col("window.start").alias("window_start"),
            col("window.end").alias("window_end"),
            col("avg_value"), col("count"))): _*)
  }
}
