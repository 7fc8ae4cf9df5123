package graft.io

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.config.JdbcConfig

/** Real-JDBC round trip through Spark's `format("jdbc")` against embedded
  * Derby (in-process, zero network — the same driver/url/dbtable option
  * surface the production Postgres wiring uses; reference:
  * data_persistance.py:39-58). The injected-writer e2e tests elsewhere pin
  * the foreachBatch semantics; this spec pins that the DEFAULT writers'
  * JDBC options actually create a table, append to it, and read back.
  */
class JdbcSinkSpec extends SparkSpec {

  // Keep derby.log (and any relative databases) out of the repo root.
  System.setProperty("derby.system.home",
    Files.createTempDirectory("graft-derby").toString)

  private def derbyCfg(): JdbcConfig = {
    val db = Files.createTempDirectory("graft-derby-db").resolve("db")
    JdbcConfig(
      url = s"jdbc:derby:$db;create=true",
      user = "",
      password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver",
      readingsTable = "sensor_readings",
      alertsTable = "alerts",
      aggregatesTable = "aggregated_stats")
  }

  private def readBack(cfg: JdbcConfig, table: String) =
    spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", table)
      .option("driver", cfg.driver)
      .load()

  test("jdbcAppend: first write creates the table, re-run appends (at-least-once)") {
    import spark.implicits._
    val cfg = derbyCfg()
    val batch = Seq(
      ("A_1_100_temperature", "temperature", 32.5),
      ("A_1_101_humidity", "humidity", 71.0))
      .toDF("sensor_id", "sensor_type", "value")

    Sinks.jdbcAppend(batch, cfg, cfg.readingsTable)
    val first = readBack(cfg, cfg.readingsTable)
    assert(first.columns.map(_.toLowerCase).sorted ===
      Array("sensor_id", "sensor_type", "value"))
    // Filter after collect: Derby stores StringType as CLOB, which rejects
    // a pushed-down string equality predicate.
    val rows = first.collect()
      .map(r => r.getAs[String]("sensor_type") -> r.getAs[Double]("value"))
      .toMap
    assert(rows === Map("temperature" -> 32.5, "humidity" -> 71.0))

    // Append mode is at-least-once by design (Sinks scaladoc): a re-run of
    // the same batch must land as additional rows, never error or upsert.
    Sinks.jdbcAppend(batch, cfg, cfg.readingsTable)
    assert(readBack(cfg, cfg.readingsTable).count() === 4L)
  }

  test("PostgresDialect DDL pinned for the three canonical tables (no server needed)") {
    import org.apache.spark.sql.types._
    import graft.model.Schemas
    // The reference persists into Postgres (data_persistance.py:48,
    // jdbc:postgresql://postgres:5432/iot_db). No server exists in the
    // sandbox, but the type mapping that decides the FIRST production
    // run's schema is driver-side PostgresDialect logic — pin it so a
    // Spark upgrade shifting TEXT→VARCHAR or FLOAT8→DOUBLE fails here,
    // not in production.
    val url = "jdbc:postgresql://postgres:5432/iot_db"

    // readings: the flat post-parse shape jdbcAppend writes.
    assert(JdbcDdl.createTableDdl(url, "sensor_readings",
      Schemas.flatReadingSchema) ===
      """CREATE TABLE sensor_readings ("sensor_id" TEXT, "sensor_type" TEXT, """ +
        """"building" TEXT, "floor" INTEGER, "room" INTEGER, """ +
        """"timestamp" TEXT, "value" FLOAT8, "unit" TEXT, """ +
        """"battery_level" INTEGER, "signal_strength" INTEGER)""")

    // alerts: the flattened dual-sink row (alert_detector.py:216-240
    // shape). NOTE the mapping this pin surfaced: Spark's TimestampType
    // has INSTANT semantics, so PostgresDialect creates TIMESTAMP WITH
    // TIME ZONE — only TimestampNTZType maps to plain TIMESTAMP. A
    // pipeline wanting wall-clock columns must cast to NTZ before the
    // first write, or the table is created timestamptz forever.
    val alertsFlat = StructType(Seq(
      StructField("sensor_id", StringType),
      StructField("alert_type", StringType),
      StructField("severity", StringType),
      StructField("threshold_value", IntegerType),
      StructField("actual_value", DoubleType),
      StructField("message", StringType),
      StructField("triggered_at", TimestampType),
      StructField("status", StringType)))
    assert(JdbcDdl.createTableDdl(url, "alerts", alertsFlat) ===
      """CREATE TABLE alerts ("sensor_id" TEXT, "alert_type" TEXT, """ +
        """"severity" TEXT, "threshold_value" INTEGER, """ +
        """"actual_value" FLOAT8, "message" TEXT, """ +
        """"triggered_at" TIMESTAMP WITH TIME ZONE, "status" TEXT)""")

    // aggregates: the flattened windowed-stats row (Aggregates.flatten).
    val aggFlat = StructType(Seq(
      StructField("sensor_id", StringType),
      StructField("window_start", TimestampType),
      StructField("window_end", TimestampType),
      StructField("avg_value", DoubleType),
      StructField("min_value", DoubleType),
      StructField("max_value", DoubleType),
      StructField("count", LongType, nullable = false)))
    assert(JdbcDdl.createTableDdl(url, "aggregated_stats", aggFlat) ===
      """CREATE TABLE aggregated_stats ("sensor_id" TEXT, """ +
        """"window_start" TIMESTAMP WITH TIME ZONE, """ +
        """"window_end" TIMESTAMP WITH TIME ZONE, """ +
        """"avg_value" FLOAT8, "min_value" FLOAT8, "max_value" FLOAT8, """ +
        """"count" BIGINT NOT NULL)""")

    // Spot-pin the scalar mappings a schema evolution would reach for.
    val single = Seq(
      BooleanType -> "BOOLEAN", FloatType -> "FLOAT4",
      BinaryType -> "BYTEA", ShortType -> "SMALLINT",
      TimestampNTZType -> "TIMESTAMP")
    for ((dt, expect) <- single)
      assert(JdbcDdl.columnDefs(url,
        StructType(Seq(StructField("c", dt)))).head === s""""c" $expect""",
        s"PostgresDialect mapping for $dt moved")
  }

  test("idempotent sink: epoch replay is a no-op, new batches append, markers persist") {
    import spark.implicits._
    val cfg = derbyCfg()
    val batch0 = Seq(("s1", 1.5), ("s2", 2.5)).toDF("sensor_id", "value")

    // First delivery of batch 0 writes and records the marker.
    Sinks.idempotentBatchWriter(cfg, cfg.readingsTable)(batch0, 0L)
    assert(readBack(cfg, cfg.readingsTable).count() === 2L)
    // REPLAY of batch 0 (the crash-after-write path) must be skipped —
    // this is exactly where plain jdbcAppend duplicates.
    Sinks.idempotentBatchWriter(cfg, cfg.readingsTable)(batch0, 0L)
    assert(readBack(cfg, cfg.readingsTable).count() === 2L)
    // A NEW batch id appends as normal.
    val batch1 = Seq(("s3", 3.5)).toDF("sensor_id", "value")
    Sinks.idempotentBatchWriter(cfg, cfg.readingsTable)(batch1, 1L)
    assert(readBack(cfg, cfg.readingsTable).count() === 3L)
    // Markers live in the commits side table, one row per batch.
    assert(readBack(cfg, cfg.readingsTable + "_commits").count() === 2L)

    // End to end through the streaming surface.
    val input = MemoryStream[(String, Double)](spark)
    val query = Sinks.jdbcStream(
      input.toDF().toDF("sensor_id", "value"), cfg, cfg.aggregatesTable,
      checkpoint = Files.createTempDirectory("graft-idem-ckpt").toString,
      queryName = "jdbc_idem_e2e",
      writer = Sinks.idempotentBatchWriter(cfg, cfg.aggregatesTable))
    try {
      input.addData(("a", 1.0), ("b", 2.0))
      query.processAllAvailable()
      assert(readBack(cfg, cfg.aggregatesTable).count() === 2L)
      input.addData(("c", 3.0))
      query.processAllAvailable()
      assert(readBack(cfg, cfg.aggregatesTable).count() === 3L)
    } finally query.stop()
  }

  test("idempotent sink crash window: marker-write failure → retry duplicates " +
      "(at-least-once floor); marker present → replay skips") {
    import spark.implicits._
    val cfg = derbyCfg()
    val batch = Seq(("s1", 1.5), ("s2", 2.5)).toDF("sensor_id", "value")

    // Crash INSIDE the documented window: data append succeeds, process
    // dies before the marker insert. The sink's scaladoc promises exactly
    // this failure re-appends on retry — pin both sides of the ladder.
    val boom = new RuntimeException("injected crash after append")
    val thrown = intercept[RuntimeException] {
      Sinks.idempotentBatchWriter(cfg, cfg.readingsTable,
        afterAppend = () => throw boom)(batch, 0L)
    }
    assert(thrown eq boom)
    // Data landed, marker did NOT.
    assert(readBack(cfg, cfg.readingsTable).count() === 2L)
    assert(readBack(cfg, cfg.readingsTable + "_commits").count() === 0L)

    // Structured Streaming redelivers batch 0. With no marker the writer
    // cannot distinguish this from a first delivery → the documented
    // duplicate (the at-least-once floor, NOT a bug).
    Sinks.idempotentBatchWriter(cfg, cfg.readingsTable)(batch, 0L)
    assert(readBack(cfg, cfg.readingsTable).count() === 4L)
    assert(readBack(cfg, cfg.readingsTable + "_commits").count() === 1L)

    // A further replay of batch 0 now hits the marker → no-op. This is
    // the dominant crash path (after checkpoint-commit failure) and the
    // whole point of the marker table.
    Sinks.idempotentBatchWriter(cfg, cfg.readingsTable)(batch, 0L)
    assert(readBack(cfg, cfg.readingsTable).count() === 4L)
    assert(readBack(cfg, cfg.readingsTable + "_commits").count() === 1L)
  }

  test("jdbcStream default writer: stream → real JDBC table → read back") {
    import spark.implicits._
    val cfg = derbyCfg()
    val input = MemoryStream[(String, Double)](spark)
    val stream = input.toDF().toDF("sensor_id", "value")
    // writer = null → the REAL jdbcAppend path (url/driver/dbtable options).
    val query = Sinks.jdbcStream(
      stream, cfg, cfg.aggregatesTable,
      checkpoint = Files.createTempDirectory("graft-jdbc-ckpt").toString,
      queryName = "jdbc_e2e")
    try {
      input.addData(("s1", 1.5), ("s2", 2.5))
      query.processAllAvailable()
      val rows = readBack(cfg, cfg.aggregatesTable)
      assert(rows.count() === 2L)
      assert(rows.select("sensor_id").as[String].collect().sorted ===
        Array("s1", "s2"))

      // Second micro-batch appends to the same table.
      input.addData(("s3", 3.5))
      query.processAllAvailable()
      assert(readBack(cfg, cfg.aggregatesTable).count() === 3L)
    } finally query.stop()
  }

  test("jdbcStream default writer: an empty batch writes nothing and still commits") {
    import spark.implicits._
    val cfg = derbyCfg()
    val input = MemoryStream[(String, Double)](spark)
    // Negative readings are filtered out, so such a batch reaches the sink
    // as an empty frame; the sink has no emptiness probe in front of it.
    val stream = input.toDF().toDF("sensor_id", "value").where($"value" >= 0)
    val ckpt = Files.createTempDirectory("graft-jdbc-empty-ckpt").toString
    val query = Sinks.jdbcStream(stream, cfg, cfg.aggregatesTable,
      checkpoint = ckpt, queryName = "jdbc_empty")
    def committed(batchId: Long) =
      new java.io.File(s"$ckpt/jdbc_empty/commits/$batchId").isFile
    try {
      // Batch 0 is empty against a missing table: the zero-row append
      // creates the table.
      input.addData(("neg", -1.0))
      query.processAllAvailable()
      assert(committed(0))
      assert(readBack(cfg, cfg.aggregatesTable).count() === 0L)

      input.addData(("s1", 1.5), ("s2", 2.5))
      query.processAllAvailable()
      assert(readBack(cfg, cfg.aggregatesTable).count() === 2L)

      // An empty batch against the existing table leaves its rows alone.
      input.addData(("neg", -2.0))
      query.processAllAvailable()
      assert(committed(2))
      assert(readBack(cfg, cfg.aggregatesTable).count() === 2L)
    } finally query.stop()
  }
}
