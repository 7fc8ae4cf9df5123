package graft.config

/** Env-driven pipeline configuration (O3).
  *
  * Key names mirror the reference's `.env` contract (reference:
  * main.py:10-16, data_persistance.py:9-16, alert_detector.py:11-17,
  * data_agregator.py:8-15, gestionnaire_mail.py:10-16). One config object
  * replaces the reference's five independent dotenv loads, and the sensor
  * topic is read from a single key — the reference hardcodes
  * "iot-sensor-data" in the alert detector while the other jobs read
  * `KAFKA_TOPIC_IOT_SENSOR` (SURVEY §2.9.7); here every consumer shares
  * `kafka.sensorTopic`.
  */
final case class KafkaConfig(
    bootstrapServers: String,
    sensorTopic: String,
    alertTopic: String)

final case class JdbcConfig(
    url: String,
    user: String,
    password: String,
    driver: String,
    readingsTable: String,
    alertsTable: String,
    aggregatesTable: String)

final case class SmtpConfig(
    host: String,
    port: Int,
    user: String,
    password: String,
    recipient: String,
    /** "smtp" wires the real socket notifier (reference parity:
      * gestionnaire_mail.py actually sends); default "log" is the safe
      * no-relay mode every test/offline environment needs.
      */
    notifier: String = "log",
    /** STARTTLS upgrade before auth — the reference's `server.starttls()`.
      * Disable only against a relay that speaks plaintext (e.g. a test
      * server or a localhost forwarder).
      */
    startTls: Boolean = true)

final case class PipelineConfig(
    kafka: KafkaConfig,
    jdbc: JdbcConfig,
    smtp: SmtpConfig,
    checkpointRoot: String,
    watermarkDelay: String)

object PipelineConfig {

  /** Build from an env map (defaults to `sys.env`); every key optional with
    * reference-compatible defaults so local/test wiring needs no env at all.
    */
  def fromEnv(env: Map[String, String] = sys.env): PipelineConfig = {
    def get(key: String, default: String): String = env.getOrElse(key, default)
    val host = get("POSTGRES_DB_HOST", "localhost")
    val port = get("POSTGRES_PORT", "5432")
    val db = get("POSTGRES_DB", "iot")
    PipelineConfig(
      kafka = KafkaConfig(
        bootstrapServers = get("KAFKA_BOOTSTRAP_SERVER", "localhost:9092"),
        sensorTopic = get("KAFKA_TOPIC_IOT_SENSOR", "iot-sensor-data"),
        alertTopic = get("KAFKA_TOPIC_IOT_ALERT", "iot-alert")),
      jdbc = JdbcConfig(
        url = s"jdbc:postgresql://$host:$port/$db",
        user = get("POSTGRES_USER", "postgres"),
        password = get("POSTGRES_PASSWORD", ""),
        driver = get("JDBC_DRIVER", "org.postgresql.Driver"),
        readingsTable = get("TABLE_SENSOR_READINGS", "sensor_readings"),
        alertsTable = get("TABLE_ALERTS", "alerts"),
        aggregatesTable = get("TABLE_AGGREGATED_STATS", "aggregated_stats")),
      smtp = SmtpConfig(
        host = get("SMTP_HOST", "localhost"),
        port = get("SMTP_PORT", "587").toInt,
        user = get("SMTP_USER", "alerts@example.com"),
        password = get("SMTP_PASS", ""),
        recipient = get("ALERT_RECIPIENT", "ops@example.com"),
        notifier = get("ALERT_NOTIFIER", "log"),
        startTls = get("SMTP_STARTTLS", "true").toBoolean),
      checkpointRoot = get("CHECKPOINT_ROOT", "/tmp/checkpoints/graft"),
      watermarkDelay = get("WATERMARK_DELAY", "1 minute"))
  }
}
