package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.PipelineConfig

/** Streaming sources (S1-S4 reader side).
  *
  * Kafka source parallelism equals the topic's partition count (the
  * reference provisions 3, init-topics.txt:5-17); at 100 TB/day the scale
  * lever is partitions on the topic plus `minPartitions` here — the plan
  * stays identical.
  */
object Sources {

  /** S1-S3: the raw sensor-ingest stream
    * (reference: data_persistance.py:68-73, alert_detector.py:71-79,
    * data_agregator.py:57-62). `failOnDataLoss=false` matches the alert
    * detector's posture and is what you want operationally: a compacted /
    * expired offset should not kill the query (alert_detector.py:78).
    */
  def sensorStream(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    kafkaStream(spark, cfg, cfg.kafka.sensorTopic)

  /** S4: the derived alert stream, consumed by the mail notifier
    * (reference: gestionnaire_mail.py:89-101 — a hand-rolled KafkaConsumer
    * loop there; a fourth Structured Streaming query here, removing the
    * reference's blocking-main hazard, SURVEY §3.4).
    */
  def alertStream(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    kafkaStream(spark, cfg, cfg.kafka.alertTopic)

  def kafkaStream(
      spark: SparkSession,
      cfg: PipelineConfig,
      topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.kafka.bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")
      .load()
}
