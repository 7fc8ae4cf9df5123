package graft.io

import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, Row, SaveMode}

import graft.config.{JdbcConfig, PipelineConfig}
import graft.ops.AlertPayload

/** Sinks (K1-K6) and the single-query dual-sink that fixes the reference's
  * double-Kafka-read hazard.
  *
  * Delivery posture (SURVEY §2.9.3): every streaming query gets a
  * checkpoint (the reference checkpoints only its Kafka alert sink,
  * alert_detector.py:251, and uses `latest` offsets everywhere — restart
  * silently drops data). With checkpoints + append-mode JDBC writes the
  * pipeline is at-least-once into idempotent-keyed tables; duplicates on
  * retry are possible and documented, loss is not.
  *
  * Jobs per micro-batch (SURVEY §2.9.5): a sink runs only the jobs its
  * writes need, with no emptiness probe in front of them, because every
  * body below is correct on an empty frame. An alert-free batch runs a
  * zero-row JDBC append (Spark's writer opens no connection for an empty
  * partition, so only the driver-side table check runs) and an empty Kafka
  * write; an empty batch against a missing table creates it with the DDL
  * the first non-empty write would have used; `idempotentBatchWriter`
  * records its marker for an empty batch too.
  */
object Sinks {

  /** K1-K3 batch half: one micro-batch → JDBC append
    * (reference: data_persistance.py:39-58, alert_detector.py:38-60,
    * data_agregator.py:28-47). Connection-per-partition is Spark's JDBC
    * writer behavior; at high fan-in bound writer parallelism upstream
    * with `coalesce` on the BATCH frame if the database is the bottleneck.
    */
  def jdbcAppend(df: DataFrame, jdbc: JdbcConfig, table: String): Unit =
    df.write
      .format("jdbc")
      .option("url", jdbc.url)
      .option("dbtable", table)
      .option("user", jdbc.user)
      .option("password", jdbc.password)
      .option("driver", jdbc.driver)
      .mode(SaveMode.Append)
      .save()

  /** The one `foreachBatch` starter behind every sink below. A query is
    * one checkpointed unit with its own offset log, so the name and the
    * checkpoint travel together: append mode, checkpoint at
    * `<checkpointRoot>/<name>`, and `body` runs on every batch, empty ones
    * included (A5 + K6, SURVEY §2.9.5). The reference guards each write
    * with a double `count()`; any emptiness probe, even a one-row
    * `limit(1)` check, is one more job that re-plans and re-reads the
    * batch.
    * Bodies must therefore be correct on an empty frame, as the JDBC,
    * Kafka and mail bodies below are (object header).
    */
  private def startForeachBatch(
      stream: DataFrame, name: String, checkpointRoot: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointRoot/$name")
      .foreachBatch(body)
      .start()

  private def log(msg: String): Unit = println(msg)

  /** Wrap a stream in a checkpointed foreachBatch JDBC append (K1/K3).
    * `writer` replaces the plain append, e.g. with
    * `idempotentBatchWriter(jdbc, table)`.
    */
  def jdbcStream(
      stream: DataFrame,
      jdbc: JdbcConfig,
      table: String,
      checkpoint: String,
      queryName: String,
      writer: (DataFrame, Long) => Unit = null): StreamingQuery = {
    val write: (DataFrame, Long) => Unit =
      if (writer != null) writer else (df, _) => jdbcAppend(df, jdbc, table)
    startForeachBatch(stream, queryName, checkpoint)(write)
  }

  /** Replay-safe JDBC batch writer — the commit-marker upgrade of plain
    * [[jdbcAppend]]. Epoch replays are the COMMON duplicate source in
    * `foreachBatch` sinks: after a crash between a successful write and
    * the checkpoint commit, Structured Streaming re-delivers the same
    * `batchId` with the same data. This writer records every committed
    * batch id in `<table>_commits` and SKIPS a batch it has already
    * written, so replays become no-ops instead of duplicate rows.
    *
    * Honest guarantee ladder (documented, not hand-waved): this is
    * effectively-once, not exactly-once — a failure in the window AFTER
    * the data append but BEFORE the marker insert still re-appends on
    * retry. Closing that window needs the marker and the data in ONE
    * database transaction, which Spark's parallel JDBC writer cannot join
    * (each partition writes on its own connection); production schemas
    * close it with idempotent keys or a staging-table swap. What this
    * buys over plain append: restart-after-successful-write — by far the
    * dominant replay path — no longer duplicates.
    *
    * The marker table is created on first use; marker reads/writes are
    * single-row driver-side JDBC (the data itself still streams through
    * Spark's writer).
    */
  /** @param afterAppend crash-injection seam for tests: invoked between
    *                     the data append and the marker insert — throwing
    *                     here simulates the documented append→marker
    *                     failure window (the at-least-once floor of the
    *                     guarantee ladder). Production callers leave the
    *                     default no-op. */
  def idempotentBatchWriter(
      jdbc: JdbcConfig, table: String,
      afterAppend: () => Unit = () => ())(
      df: DataFrame, batchId: Long): Unit = {
    val commits = s"${table}_commits"
    val conn = java.sql.DriverManager.getConnection(
      jdbc.url, jdbc.user, jdbc.password)
    try {
      // Create-and-tolerate-exists instead of a metadata probe: JDBC
      // getTables is a trap here — Derby folds unquoted identifiers to
      // UPPER while PostgreSQL folds to lower and matches the pattern
      // case-sensitively, so a probe that passes on the embedded test DB
      // silently never finds the table on the production target (and '_'
      // in the pattern is a wildcard on top). Issuing CREATE TABLE and
      // swallowing only the already-exists SQLState is dialect-portable:
      // X0Y32 = Derby "object already exists", 42P07 = PostgreSQL
      // "duplicate_table", 42S01 = SQL-standard/MySQL "table exists".
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE $commits (batch_id BIGINT NOT NULL PRIMARY KEY)")
      catch {
        case e: java.sql.SQLException
            if Set("X0Y32", "42P07", "42S01").contains(e.getSQLState) => ()
      } finally st.close()
      val check = conn.prepareStatement(
        s"SELECT 1 FROM $commits WHERE batch_id = ?")
      val already = try {
        check.setLong(1, batchId)
        val rs = check.executeQuery()
        val hit = rs.next(); rs.close(); hit
      } finally check.close()
      if (already) {
        // Skip the EXTERNAL write, not the computation: a stateful
        // upstream (fMGWS/windowed agg) commits its state stores inside
        // this batch's partition tasks, and Spark 4 validates that every
        // partition committed — an unconsumed replay fails the batch
        // exactly where exactly-once matters (recovery). The noop write
        // materializes all partitions with no side effect.
        df.write.format("noop").mode("overwrite").save()
        log(s"[batch $batchId] already committed to $table — replay skipped")
      } else {
        jdbcAppend(df, jdbc, table)
        afterAppend()
        val mark = conn.prepareStatement(
          s"INSERT INTO $commits (batch_id) VALUES (?)")
        try { mark.setLong(1, batchId); mark.executeUpdate() }
        finally mark.close()
      }
    } finally conn.close()
  }

  /** K2+K4 fused: ONE streaming query whose foreachBatch writes alerts to
    * both JDBC and Kafka.
    *
    * The reference starts two independent queries off the same lineage
    * (alert_detector.py:246-262), so Kafka is consumed twice, the CaseWhen
    * chain is computed twice, and the two sinks can diverge on failure
    * (SURVEY §2.9.4). Here the batch is computed once, persisted for the
    * two writes, and both sinks share one checkpointed offset log. Write
    * order is JDBC then Kafka: a failure between the two re-runs the batch,
    * re-appending to JDBC (at-least-once) rather than ever publishing an
    * alert that was not persisted.
    *
    * @param writeJdbc  batch writer (default: real JDBC append); injectable
    *                   so tests can collect
    * @param writeKafka batch writer for the (key, value) payload frame
    *                   (default: real Kafka append)
    */
  def alertsDualSink(
      alerts: DataFrame,
      cfg: PipelineConfig,
      writeJdbc: DataFrame => Unit = null,
      writeKafka: DataFrame => Unit = null): StreamingQuery = {
    val jdbcW: DataFrame => Unit =
      if (writeJdbc != null) writeJdbc
      else df => jdbcAppend(df, cfg.jdbc, cfg.jdbc.alertsTable)
    val kafkaW: DataFrame => Unit =
      if (writeKafka != null) writeKafka
      else df =>
        df.write
          .format("kafka")
          .option("kafka.bootstrap.servers", cfg.kafka.bootstrapServers)
          .option("topic", cfg.kafka.alertTopic)
          .save()
    startForeachBatch(alerts, "alerts_dual_sink", cfg.checkpointRoot) {
        (df, _) =>
      df.persist()
      try {
        jdbcW(df)
        kafkaW(AlertPayload.toKafka(df))
      } finally df.unpersist()
    }
  }

  /** Hard cap on driver-side email materialization per micro-batch. Alerts
    * are ~0.9 % of readings (SURVEY §6) and severity-filtered, so a normal
    * batch is far below this; the cap exists for the abnormal one — a
    * threshold misconfig turning every reading into an alert would
    * otherwise `collect()` the whole batch onto the driver. Past the cap
    * the overflow is counted and logged loudly, not mailed: an operator
    * drowning in 10k emails learns less than one reading "capped, 9900
    * dropped".
    */
  val MaxEmailsPerBatch = 100

  /** K5 stream half: mailable alerts → notifier. The collect() is the one
    * deliberate driver-side hop in the engine, and it is BOUNDED: at most
    * [[MaxEmailsPerBatch]] rows cross to the driver regardless of batch
    * size (limit runs on the executors before the collect).
    */
  def notifierSink(
      mailableAlerts: DataFrame,
      cfg: PipelineConfig,
      notifier: AlertNotifier): StreamingQuery = {
    val recipient = cfg.smtp.recipient
    startForeachBatch(mailableAlerts, "mail_notifier", cfg.checkpointRoot) {
        (df, batchId) =>
      // One task scans the partitions in order and stops at the cap, so
      // the same <= cap rows reach the driver in one job; a bare
      // `limit().collect()` takes a second job whenever the first
      // partition holds fewer rows than the cap.
      val sent = df.coalesce(1).limit(MaxEmailsPerBatch).collect()
      sent.foreach { row: Row =>
        notifier.send(AlertEmail.fromAlertRow(row, recipient))
      }
      if (sent.length == MaxEmailsPerBatch) {
        val total = df.count()
        if (total > MaxEmailsPerBatch)
          log(s"[batch $batchId] ALERT STORM: $total mailable alerts, " +
            s"capped at $MaxEmailsPerBatch emails, " +
            s"${total - MaxEmailsPerBatch} dropped")
      }
    }
  }
}
