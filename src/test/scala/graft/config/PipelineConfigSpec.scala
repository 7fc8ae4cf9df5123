package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** Spec for env-driven configuration (O3) — reference `.env` key names. */
class PipelineConfigSpec extends AnyFunSuite {

  test("defaults are reference-compatible with no env at all") {
    val cfg = PipelineConfig.fromEnv(Map.empty)
    assert(cfg.kafka.sensorTopic === "iot-sensor-data")
    assert(cfg.kafka.alertTopic === "iot-alert")
    assert(cfg.jdbc.url === "jdbc:postgresql://localhost:5432/iot")
    assert(cfg.jdbc.readingsTable === "sensor_readings")
    assert(cfg.jdbc.alertsTable === "alerts")
    assert(cfg.jdbc.aggregatesTable === "aggregated_stats")
  }

  test("reference .env keys are honored and compose into the JDBC url") {
    val cfg = PipelineConfig.fromEnv(Map(
      "KAFKA_BOOTSTRAP_SERVER" -> "broker:19092",
      "KAFKA_TOPIC_IOT_SENSOR" -> "custom-ingest",
      "POSTGRES_DB_HOST" -> "db.internal",
      "POSTGRES_PORT" -> "6543",
      "POSTGRES_DB" -> "telemetry",
      "POSTGRES_USER" -> "svc",
      "SMTP_PORT" -> "2525",
      "ALERT_RECIPIENT" -> "oncall@example.com"))
    assert(cfg.kafka.bootstrapServers === "broker:19092")
    assert(cfg.kafka.sensorTopic === "custom-ingest")
    assert(cfg.jdbc.url === "jdbc:postgresql://db.internal:6543/telemetry")
    assert(cfg.jdbc.user === "svc")
    assert(cfg.smtp.port === 2525)
    assert(cfg.smtp.recipient === "oncall@example.com")
  }

  test("one topic key feeds every consumer (fixes the reference's hardcoded topic)") {
    val cfg = PipelineConfig.fromEnv(Map("KAFKA_TOPIC_IOT_SENSOR" -> "only-topic"))
    // SURVEY §2.9.7: alert detector must read the same key, not a literal.
    assert(cfg.kafka.sensorTopic === "only-topic")
  }
}
