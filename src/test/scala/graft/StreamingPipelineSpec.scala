package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MicroBatchExecution, StreamExecution}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.{InMemoryNotifier, Sinks}
import graft.ops.Aggregates

/** End-to-end streaming semantics over MemoryStream — the parts the batch
  * oracle cannot see (SURVEY §5.2.3): dual-sink atomicity per batch,
  * watermark/append window finalization, and the mail notifier path.
  */
class StreamingPipelineSpec extends SparkSpec {

  private def cfg = PipelineConfig.fromEnv(Map(
    "CHECKPOINT_ROOT" -> Files.createTempDirectory("graft-ckpt").toString))

  private def readingJson(
      sensorType: String, value: Double, battery: Int = 90,
      signal: Int = -50, ts: String = "2026-01-01T12:00:00.000000"): String = {
    val unit = Map("temperature" -> "celsius", "humidity" -> "percent",
      "pressure" -> "hPa")(sensorType)
    s"""{"sensor_id":"A_1_100_$sensorType","sensor_type":"$sensorType",
       |"location":{"building":"A","floor":1,"room":100},
       |"timestamp":"$ts","value":$value,"unit":"$unit",
       |"metadata":{"battery_level":$battery,"signal_strength":$signal}}"""
      .stripMargin.replace("\n", "")
  }

  /** An iot-alert topic payload the mail notifier accepts. */
  private val criticalAlertJson =
    """{"sensor_id":"A_1_100_temperature","sensor_type":"temperature",
      |"timestamp":"2026-01-01T12:00:00.000000",
      |"location":{"building":"A","floor":1,"room":100},
      |"metadata":{"battery_level":87,"signal_strength":-55},
      |"alert_type":"temperature_critical","severity":"critical",
      |"threshold_value":30,"actual_value":32.5,
      |"message":"Température CRITIQUE (>30°C ou <15°C)",
      |"triggered_at":"2026-01-01T12:00:00.000000","status":"active"}"""
      .stripMargin.replace("\n", "")

  /** The sink contract perfbench's catch-up resume relies on: the query
    * keeps its unit name and commits its offset log under
    * `<checkpointRoot>/<name>`.
    */
  private def assertCheckpointed(
      query: org.apache.spark.sql.streaming.StreamingQuery,
      conf: PipelineConfig, name: String): Unit = {
    assert(query.name === name)
    assert(new java.io.File(s"${conf.checkpointRoot}/$name/commits").isDirectory,
      s"no commit log under ${conf.checkpointRoot}/$name")
  }

  test("alert chain e2e: dual sink writes the same batch to jdbc and kafka") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val conf = cfg
    val pipeline = new Pipeline(spark, conf)
    val alerts = pipeline.alertsFrame(input.toDF().withColumnRenamed("value", "kafka_value")
      .select(col("kafka_value").alias("value")))

    val jdbcRows = mutable.Buffer[org.apache.spark.sql.Row]()
    val kafkaRows = mutable.Buffer[(String, String)]()
    val query = Sinks.alertsDualSink(
      alerts, conf,
      writeJdbc = df => jdbcRows.synchronized { jdbcRows ++= df.collect() },
      writeKafka = df => kafkaRows.synchronized {
        kafkaRows ++= df.collect().map(r =>
          (r.getAs[String]("key"), r.getAs[String]("value")))
      })
    try {
      input.addData(
        readingJson("temperature", 32.5),          // critical
        readingJson("temperature", 22.0),          // no alert
        readingJson("humidity", 75.0, battery = 10)) // humidity_critical (priority)
      query.processAllAvailable()
      assertCheckpointed(query, conf, "alerts_dual_sink")

      assert(jdbcRows.length === 2)
      assert(kafkaRows.length === 2)
      val byType = jdbcRows.map(r => r.getAs[String]("alert_type")).sorted
      assert(byType === Seq("humidity_critical", "temperature_critical"))
      // created_at present in the streaming path (P7)
      assert(jdbcRows.forall(!_.isNullAt(jdbcRows.head.fieldIndex("created_at"))))
      // Kafka payload: keyed by sensor_id, JSON value with re-nested structs
      assert(kafkaRows.map(_._1).toSet ===
        Set("A_1_100_temperature", "A_1_100_humidity"))
      assert(kafkaRows.forall(_._2.contains("\"location\":{\"building\":\"A\"")))

      // alert-free batch: no rows added to either sink
      val (j0, k0) = (jdbcRows.length, kafkaRows.length)
      input.addData(readingJson("temperature", 22.0))
      query.processAllAvailable()
      assert(jdbcRows.length === j0 && kafkaRows.length === k0)
    } finally query.stop()
  }

  /** Counts the Spark jobs of each streaming micro-batch, keyed by the
    * query id and batch id Spark sets as local properties on every job the
    * batch starts. A sentinel job started after the batch returns marks the
    * point where the listener bus has delivered all of the batch's events.
    */
  private final class BatchJobs extends SparkListener {
    private val SentinelKey = "graft.test.sentinel"
    private val started = new ConcurrentHashMap[Int, (String, String)]()
    private val ended = ConcurrentHashMap.newKeySet[Int]()
    private val sentinels = ConcurrentHashMap.newKeySet[String]()
    private val sentinelJobs = new ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty(SentinelKey)).foreach(sentinelJobs.put(e.jobId, _))
        Option(p.getProperty(StreamExecution.QUERY_ID_KEY)).foreach { q =>
          started.put(e.jobId,
            (q, p.getProperty(MicroBatchExecution.BATCH_ID_KEY)))
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      ended.add(e.jobId)
      Option(sentinelJobs.get(e.jobId)).foreach(sentinels.add)
    }

    /** Jobs batch `batchId` of `query` ran, once all of them have ended. */
    def jobsOf(query: StreamingQuery, batchId: Long): Int = {
      val mark = java.util.UUID.randomUUID().toString
      val sc = spark.sparkContext
      sc.setLocalProperty(SentinelKey, mark)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SentinelKey, null)
      val key = (query.id.toString, batchId.toString)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def jobs = started.asScala.collect { case (j, `key`) => j }.toSet
      while (!(sentinels.contains(mark) && jobs.forall(ended.contains))) {
        assert(System.nanoTime() < deadline,
          s"job events of batch $batchId never arrived")
        Thread.sleep(20)
      }
      jobs.size
    }
  }

  /** Runs `start`'s query over one non-empty batch and returns the number
    * of Spark jobs that batch ran.
    */
  private def jobsPerBatch(input: MemoryStream[String], rows: Seq[String])(
      start: => StreamingQuery): Int = {
    val jobs = new BatchJobs
    spark.sparkContext.addSparkListener(jobs)
    val query = start
    try {
      input.addData(rows)
      query.processAllAvailable()
      jobs.jobsOf(query, 0L)
    } finally {
      query.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("per-batch job budget: each sink runs only the jobs its writes need") {
    import spark.implicits._
    val conf = cfg
    val pipeline = new Pipeline(spark, conf, new InMemoryNotifier)
    val readings = Seq(
      readingJson("temperature", 32.5),
      readingJson("temperature", 22.0),
      readingJson("humidity", 75.0, battery = 10))

    // Persistence: the append is the batch's one job.
    val persistIn = MemoryStream[String](spark, 3)
    assert(jobsPerBatch(persistIn, readings) {
      Sinks.jdbcStream(pipeline.readingsFrame(persistIn.toDF()),
        conf.jdbc, conf.jdbc.readingsTable,
        Files.createTempDirectory("graft-budget-persist").toString,
        "budget_persistence", writer = (df, _) => df.collect())
    } === 1)

    // Alerts: the JDBC write, then the Kafka write from the persisted batch.
    val alertsIn = MemoryStream[String](spark, 3)
    assert(jobsPerBatch(alertsIn, readings) {
      Sinks.alertsDualSink(pipeline.alertsFrame(alertsIn.toDF()), conf,
        writeJdbc = _.collect(), writeKafka = _.collect())
    } === 2)

    // Mail under the cap: one collect job, although the first partition
    // holds fewer rows than the cap.
    val mailIn = MemoryStream[String](spark, 3)
    val notifier = new InMemoryNotifier
    assert(jobsPerBatch(mailIn, Seq.fill(6)(criticalAlertJson)) {
      Sinks.notifierSink(pipeline.mailableFrame(mailIn.toDF()), conf, notifier)
    } === 1)
    assert(notifier.emails.length === 6)
  }

  test("stopAll tries every stop, then rethrows the first fatal error") {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    val stopped = mutable.Buffer[String]()
    def query(name: String, onStop: () => Unit): StreamingQuery =
      Proxy.newProxyInstance(getClass.getClassLoader,
        Array(classOf[StreamingQuery]), new InvocationHandler {
          def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            m.getName match {
              case "name" => name
              case "stop" => onStop(); stopped += name; null
              case other  => throw new UnsupportedOperationException(other)
            }
        }).asInstanceOf[StreamingQuery]
    val pipeline = new Pipeline(spark, cfg)
    // Unchecked fatal errors: the proxy would wrap an undeclared checked
    // InterruptedException into a non-fatal UndeclaredThrowableException.
    val fatal = new OutOfMemoryError("stop failed")
    pipeline.track(query("a", () => throw fatal))
    pipeline.track(query("b", () => throw new IllegalStateException("b")))
    pipeline.track(query("c", () => ()))
    pipeline.track(query("d", () => throw new LinkageError("later")))
    val thrown = intercept[OutOfMemoryError](pipeline.stopAll())
    assert(thrown eq fatal)
    assert(stopped === Seq("c"))
    // `started` was cleared: a second stopAll has nothing left to stop.
    pipeline.stopAll()
    assert(stopped === Seq("c"))
  }

  test("windowed aggregation: append mode emits a window only after the watermark passes") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val readings = input.toDF()
      .toDF("event_time", "sensor_id", "value")
      .withColumn("sensor_type", lit("temperature"))
    val agg = Aggregates.sensorStats(readings, streaming = true)
    val query = agg.writeStream.format("memory")
      .queryName("agg_sink").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-agg").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(
        (ts("2026-01-01 00:00:30"), "s1", 10.0),
        (ts("2026-01-01 00:01:30"), "s1", 20.0))
      query.processAllAvailable()
      // Window [00:00, 00:04) is still open: nothing emitted.
      assert(spark.table("agg_sink").count() === 0)

      // An event at 00:05:30 pushes the watermark to 00:04:30 > window end.
      input.addData((ts("2026-01-01 00:05:30"), "s1", 30.0))
      query.processAllAvailable()
      input.addData((ts("2026-01-01 00:09:30"), "s1", 40.0))
      query.processAllAvailable()

      // Both [00:00,00:04) and [00:04,00:08) are now behind the watermark.
      val done = spark.table("agg_sink").collect()
        .map(r => r.getAs[Timestamp]("window_start") -> r).toMap
      assert(done.size === 2)
      val w = done(ts("2026-01-01 00:00:00"))
      assert(w.getAs[Timestamp]("window_end") === ts("2026-01-01 00:04:00"))
      assert(w.getAs[Double]("avg_value") === 15.0)
      assert(w.getAs[Long]("count") === 2L)
      assert(done(ts("2026-01-01 00:04:00")).getAs[Long]("count") === 1L)
    } finally query.stop()
  }

  test("windowed aggregation runs green under the RocksDB state store provider") {
    import spark.implicits._
    // The documented 100 TB posture (SURVEY §4.2, Main.GRAFT_ROCKSDB_STATE):
    // off-heap bounded-memory state instead of the default HDFS-backed
    // in-memory maps. The provider is read per query start, so scoping the
    // conf around this one query exercises it without touching the suite.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val readings = input.toDF()
      .toDF("event_time", "sensor_id", "value")
      .withColumn("sensor_type", lit("temperature"))
    val query = Aggregates.sensorStats(readings, streaming = true)
      .writeStream.format("memory")
      .queryName("agg_rocksdb_sink").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-agg-rocks").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData(
        (ts("2026-01-01 00:00:30"), "s1", 10.0),
        (ts("2026-01-01 00:01:30"), "s1", 20.0))
      query.processAllAvailable()
      input.addData((ts("2026-01-01 00:05:30"), "s1", 30.0))
      query.processAllAvailable()
      val rows = spark.table("agg_rocksdb_sink").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Double]("avg_value") === 15.0)
      assert(rows.head.getAs[Long]("count") === 2L)
      // Evidence the provider actually engaged: RocksDB publishes its own
      // custom state-operator metrics (e.g. rocksdbGetCount).
      val metrics = query.lastProgress.stateOperators.apply(0)
        .customMetrics.keySet()
      assert(metrics.asScala.exists(_.startsWith("rocksdb")),
        s"expected rocksdb state metrics, got: $metrics")
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("late data beyond the 1-minute watermark is dropped") {
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val readings = input.toDF().toDF("event_time", "sensor_id", "value")
      .withColumn("sensor_type", lit("temperature"))
    val agg = Aggregates.sensorStats(readings, streaming = true)
    val query = agg.writeStream.format("memory")
      .queryName("late_sink").outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-late").toString)
      .start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      input.addData((ts("2026-01-01 00:00:30"), "s1", 10.0))
      query.processAllAvailable()
      // Advance watermark far past the first window …
      input.addData((ts("2026-01-01 00:10:00"), "s1", 99.0))
      query.processAllAvailable()
      // … then send a straggler into the long-closed first window.
      input.addData((ts("2026-01-01 00:00:45"), "s1", 1000.0))
      query.processAllAvailable()
      input.addData((ts("2026-01-01 00:20:00"), "s1", 5.0))
      query.processAllAvailable()

      val first = spark.table("late_sink").collect()
        .filter(_.getAs[Timestamp]("window_start") === ts("2026-01-01 00:00:00"))
      assert(first.length === 1)
      // The straggler was dropped: count 1, max 10.0, not 1000.0.
      assert(first.head.getAs[Long]("count") === 1L)
      assert(first.head.getAs[Double]("max_value") === 10.0)
    } finally query.stop()
  }

  test("persistence e2e: raw JSON → flat readings with event_time → jdbc writer") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val pipeline = new Pipeline(spark, cfg)
    val readings = pipeline.readingsFrame(input.toDF())
    val written = mutable.Buffer[org.apache.spark.sql.Row]()
    val query = io.Sinks.jdbcStream(
      readings, cfg.jdbc, cfg.jdbc.readingsTable,
      Files.createTempDirectory("graft-persist").toString, "persist_test",
      writer = (df, _) => written.synchronized { written ++= df.collect() })
    try {
      input.addData(
        readingJson("temperature", 21.5),
        readingJson("pressure", 1010.0, battery = 55))
      query.processAllAvailable()
      assert(written.length === 2)
      val r = written.find(_.getAs[String]("sensor_type") == "temperature").get
      assert(r.getAs[String]("sensor_id") === "A_1_100_temperature")
      assert(r.getAs[Int]("floor") === 1)
      assert(r.getAs[Double]("value") === 21.5)
      assert(r.getAs[String]("timestamp") === "2026-01-01T12:00:00.000000")
      assert(r.getAs[java.sql.Timestamp]("event_time").toInstant.toString ===
        "2026-01-01T12:00:00Z")
    } finally query.stop()
  }

  test("streaming curation: redact → quality gate runs per-batch on a doc stream") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    // The same pure-projection curation ops the batch path uses, composed
    // on an unbounded frame: redaction feeds the gate's text input. No
    // aggregation/join in the chain, so append mode streams it unchanged —
    // the evidence that per-document curation is streaming-safe as-is.
    val gated = TextAnalysis.qualityGate(
      TextAnalysis.redact(docs)
        .select(col("doc_id"), col("redacted_text").alias("text")))
    assert(gated.isStreaming)
    val query = gated.writeStream.format("memory").queryName("curation_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-curation-ckpt").toString)
      .start()
    try {
      val good = "the quick brown fox jumps over the lazy dog and then " +
        "keeps going with plenty of ordinary readable english words in it " +
        "until the gate is satisfied about length and token shape overall"
      input.addData(
        (1L, good),
        (2L, "contact a.user@example.com or 192.168.0.1 now"), // short → reject
        (3L, good + " reach me at a.user@example.com"))
      query.processAllAvailable()
      val out = spark.table("curation_sink").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
        .toMap
      assert(out(1L) === ((true, None)))
      assert(out(2L) === ((false, Some("too_short"))))
      assert(out(3L)._1 === true) // redacted email must not fail the gate
      // Streaming result ≡ batch result on identical input — same ops,
      // same answers, per the engine's batch/streaming parity contract.
      val batch = TextAnalysis.qualityGate(
        TextAnalysis.redact(Seq(
          (1L, good),
          (2L, "contact a.user@example.com or 192.168.0.1 now"),
          (3L, good + " reach me at a.user@example.com")).toDF("doc_id", "text"))
          .select(col("doc_id"), col("redacted_text").alias("text")))
        .collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
        .toMap
      assert(out === batch)
    } finally query.stop()
  }

  test("streaming rule gates: gopher report streams per-batch ≡ batch") {
    import graft.ops.TextRules
    import spark.implicits._
    // gopherReport is a pure projection, so the published rule-set gates
    // an unbounded document stream unchanged — same evidence pattern as
    // "streaming curation" above.
    val input = MemoryStream[(Long, String)](spark)
    val report = TextRules.gopherReport(input.toDF().toDF("doc_id", "text"))
    assert(report.isStreaming)
    val query = report.writeStream.format("memory").queryName("gopher_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-gopher-ckpt").toString)
      .start()
    try {
      val rows = Seq(
        (1L, Seq.fill(60)("the word and that").mkString(" ")),
        (2L, "- bullet\n- bullet\n- bullet"))
      input.addData(rows: _*)
      query.processAllAvailable()
      val out = spark.table("gopher_sink").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passed")).toMap
      val batch = TextRules.gopherReport(rows.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("passed")).toMap
      assert(out === batch)
      assert(out(1L)) // long stop-worded doc passes
      assert(!out(2L)) // all-bullet short doc fails
    } finally query.stop()
  }

  test("streaming funnel: stage advances across micro-batches, forward-only") {
    import graft.ops.Funnel
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val events = input.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "10 minutes")
    val q = Funnel.streamingConversion(events, idleTimeout = Some(3600000L))
      .toDF()
      .writeStream.format("memory").queryName("funnel_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-funnel-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // Batch 1: click arrives BEFORE view within the batch (out of order
      // in arrival, in order in event time) → both stages advance.
      input.addData(
        (1L, t("2026-01-01 10:01:00"), "click"),
        (1L, t("2026-01-01 10:00:00"), "view"),
        (2L, t("2026-01-01 10:00:00"), "purchase")) // no prior stages: ignored
      q.processAllAvailable()
      // Batch 2: the purchase lands → stage 3; user 2's late view opens
      // stage 1 only (their earlier purchase is not rewound into rank).
      input.addData(
        (1L, t("2026-01-01 10:02:00"), "purchase"),
        (2L, t("2026-01-01 10:03:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_sink").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val base = t("2026-01-01 10:00:00").getTime / 1000
      assert(rows === Set(
        (1L, 1, base), (1L, 2, base + 60), (1L, 3, base + 120),
        (2L, 1, base + 180)))
    } finally q.stop()
  }

  test("streaming funnel: idle eviction frees a completed user for a new journey") {
    import graft.ops.Funnel
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val events = input.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 minute")
    // 1-hour idle horizon: state (even a completed funnel) drops once the
    // watermark passes last-event + horizon.
    val q = Funnel.streamingConversion(events, idleTimeout = Some(3600000L))
      .toDF()
      .writeStream.format("memory").queryName("funnel_evict_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-funnel-evict-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (1L, t("2026-01-01 10:00:00"), "view"),
        (1L, t("2026-01-01 10:00:30"), "click"),
        (1L, t("2026-01-01 10:01:00"), "purchase"))
      q.processAllAvailable()
      // Another user's much later event pushes the watermark far past user
      // 1's idle horizon → user 1's completed state evicts.
      input.addData((2L, t("2026-01-01 13:00:00"), "view"))
      q.processAllAvailable()
      // With state evicted, a fresh view opens a NEW journey (stage 1
      // again). Were the completed state still held, this would emit
      // nothing — the eviction is what makes the row observable.
      input.addData((1L, t("2026-01-01 13:05:00"), "view"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_evict_sink").collect()
        .filter(_.getLong(0) == 1L).map(r => (r.getInt(1), r.getLong(2)))
      assert(u1.count(_._1 == 1) === 2, s"expected a second journey: ${u1.toSeq}")
      assert(u1.length === 4) // stages 1,2,3 then the new stage-1
    } finally q.stop()
  }

  test("stream-stream attribution join matches across micro-batches") {
    import graft.ops.StreamJoin
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, String)](spark)
    // ONE watermarked stream, self-joined: both derived sides inherit the
    // watermark, and the range condition bounds each side's state.
    val events = input.toDF().toDF("event_id", "ts", "user_id", "event_type")
      .withWatermark("ts", "10 minutes")
    val q = StreamJoin.purchaseAttribution(events)
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-attr-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((1L, t("2026-01-01 10:00:00"), 1L, "view"))
      q.processAllAvailable()
      // The purchase arrives a BATCH LATER — the held view state matches.
      input.addData(
        (2L, t("2026-01-01 10:30:00"), 1L, "purchase"),
        (3L, t("2026-01-01 10:15:00"), 2L, "purchase")) // user 2: no view
      q.processAllAvailable()
      val rows = spark.table("attr_sink").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(5)))
      assert(rows.toSet === Set((2L, 1L, 1800L)))
    } finally q.stop()
  }

  test("streaming top-N leaderboard refreshes only when a batch changes it") {
    import graft.ops.WindowOps
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val events = input.toDF().toDF("event_id", "ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
    val q = WindowOps.streamingTopN(events, n = 2).toDF()
      .writeStream.format("memory").queryName("topn_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-topn-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (1L, t("2026-01-01 10:00:00"), 7L, 10.0),
        (2L, t("2026-01-01 10:01:00"), 7L, 30.0))
      q.processAllAvailable()
      // A displacing value re-emits the refreshed board...
      input.addData((3L, t("2026-01-01 10:02:00"), 7L, 20.0))
      q.processAllAvailable()
      // ...a non-qualifying one emits nothing.
      input.addData((4L, t("2026-01-01 10:03:00"), 7L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("topn_sink").collect()
        .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      val base = t("2026-01-01 10:00:00").getTime / 1000
      // Batch 1 board: [30 (id 2), 10 (id 1)]; batch 2: [30, 20 (id 3)].
      assert(rows.toSet === Set(
        (1, 2L, 30.0, base + 60), (2, 1L, 10.0, base + 60),
        (1, 2L, 30.0, base + 120), (2, 3L, 20.0, base + 120)))
    } finally q.stop()
  }

  test("mail notifier e2e: iot-alert payload → severity filter → formatted email") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val notifier = new InMemoryNotifier
    val conf = cfg
    val pipeline = new Pipeline(spark, conf, notifier)
    val mailable = pipeline.mailableFrame(input.toDF())
    val query = Sinks.notifierSink(mailable, conf, notifier)
    try {
      val infoJson = criticalAlertJson
        .replace("\"severity\":\"critical\"", "\"severity\":\"info\"")
      input.addData(criticalAlertJson, infoJson)
      query.processAllAvailable()
      assertCheckpointed(query, conf, "mail_notifier")

      val emails = notifier.emails
      assert(emails.length === 1) // info filtered out (F5)
      val mail = emails.head
      assert(mail.subject ===
        "[ALERTE CRITICAL] Capteur A_1_100_temperature - temperature_critical")
      assert(mail.body.contains("bâtiment A, étage 1, salle 100"))
      assert(mail.body.contains("Valeur       : 32.5 (seuil 30)"))
      assert(mail.body.contains("Niveau batterie : 87%"))
      assert(mail.body.contains("Signal         : -55 dBm"))
      assert(mail.recipient === "ops@example.com")
    } finally query.stop()
  }

  test("mail notifier caps driver materialization during an alert storm") {
    import spark.implicits._
    val input = MemoryStream[String](spark)
    val notifier = new InMemoryNotifier
    val pipeline = new Pipeline(spark, cfg, notifier)
    val mailable = pipeline.mailableFrame(input.toDF())
    val query = Sinks.notifierSink(mailable, cfg, notifier)
    try {
      // Every row mailable — the misconfigured-threshold scenario where an
      // uncapped collect() would pull the whole batch onto the driver.
      val storm = (1 to Sinks.MaxEmailsPerBatch * 2).map { i =>
        s"""{"sensor_id":"A_1_$i","sensor_type":"temperature",
           |"timestamp":"2026-01-01T12:00:00.000000",
           |"location":{"building":"A","floor":1,"room":$i},
           |"metadata":{"battery_level":87,"signal_strength":-55},
           |"alert_type":"temperature_critical","severity":"critical",
           |"threshold_value":30,"actual_value":32.5,
           |"message":"Température CRITIQUE (>30°C ou <15°C)",
           |"triggered_at":"2026-01-01T12:00:00.000000","status":"active"}"""
          .stripMargin.replace("\n", "")
      }
      input.addData(storm)
      query.processAllAvailable()
      assert(notifier.emails.length === Sinks.MaxEmailsPerBatch)
    } finally query.stop()
  }

  test("streaming top-N: non-qualifying events keep a key alive past the idle horizon") {
    import graft.ops.WindowOps
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val events = input.toDF().toDF("event_id", "ts", "user_id", "value")
      .withWatermark("ts", "1 minute")
    // n=1, 5-minute idle horizon. User 7's board is set once; every later
    // event is non-qualifying. The high-water mark must advance on those
    // events anyway — were the timeout armed from the (unchanged) board's
    // timestamps, the stale 10:05 deadline would evict user 7 at batch 4
    // and batch 5's non-qualifying 2.0 would WRONGLY rebuild and emit.
    val q = WindowOps.streamingTopN(events, n = 1,
        idleTimeout = Some(300000L)).toDF()
      .writeStream.format("memory").queryName("topn_alive_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-topn-alive-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((1L, t("2026-01-01 10:00:00"), 7L, 100.0))
      q.processAllAvailable()
      input.addData((2L, t("2026-01-01 10:04:00"), 7L, 1.0)) // board unchanged
      q.processAllAvailable()
      input.addData((3L, t("2026-01-01 10:07:00"), 8L, 50.0))
      q.processAllAvailable()
      // Watermark now 10:06 — past the stale 10:05 deadline, before the
      // refreshed 10:09 one.
      input.addData((4L, t("2026-01-01 10:08:00"), 8L, 60.0))
      q.processAllAvailable()
      input.addData((5L, t("2026-01-01 10:08:30"), 7L, 2.0)) // non-qualifying
      q.processAllAvailable()
      val u7 = spark.table("topn_alive_sink").collect()
        .filter(_.getLong(0) == 7L)
        .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      val base = t("2026-01-01 10:00:00").getTime / 1000
      assert(u7.toSet === Set((1, 1L, 100.0, base)),
        s"user 7 must emit exactly the initial board: ${u7.toSeq}")
    } finally q.stop()
  }

  test("update output mode: running aggregates re-emit only changed keys per batch") {
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    // Unwindowed running counts are exactly the aggregation shape append
    // mode REFUSES (no watermark can ever finalize them); update mode is
    // the correct third face next to append (windows) and complete
    // (leaderboards).
    val q = input.toDF().toDF("event_id", "event_type")
      .groupBy(col("event_type")).count()
      .writeStream.format("memory").queryName("upd_sink")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-upd-ckpt").toString)
      .start()
    try {
      input.addData((1L, "click"), (2L, "click"), (3L, "view"))
      q.processAllAvailable()
      input.addData((4L, "click")) // only click's count changes
      q.processAllAvailable()
      val rows = spark.table("upd_sink").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // The memory sink accumulates update-mode emissions: batch 1 emits
      // both keys, batch 2 re-emits ONLY the changed key.
      assert(rows.toSet === Set(("click", 2L), ("view", 1L), ("click", 3L)))
      assert(rows.count(_._1 == "view") === 1, "unchanged key must not re-emit")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog and terminates on its own") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    // The operational batch-drain: process everything available, then
    // stop — the catch-up / backfill trigger a scheduled pipeline uses
    // instead of running forever.
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    input.addData(
      (1L, Timestamp.valueOf("2026-01-01 10:00:00"), "click"),
      (2L, Timestamp.valueOf("2026-01-01 10:01:00"), "view"))
    val q = input.toDF().toDF("event_id", "ts", "event_type")
      .writeStream.format("memory").queryName("drain_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-drain-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), "drain must self-terminate")
      assert(spark.table("drain_sink").count() === 2)
    } finally q.stop()
  }

  test("checkpoint recovery: funnel state survives a stop/restart cycle") {
    import graft.ops.Funnel
    import spark.implicits._
    // The reference has NO recovery story (§2.9.3: latest offsets, no
    // checkpoints — state dies with the process). This pins ours: a
    // restarted query resumes from the checkpoint with its per-user state
    // intact, proven by a stage-2 advance that is only legal if the
    // stage-1 state crossed the restart.
    val ckpt = Files.createTempDirectory("graft-funnel-restart").toString
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    // The memory sink refuses checkpoint recovery; foreachBatch — the
    // production sink shape (Sinks.jdbcStream) — supports it.
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long)]()
    def startQuery() = Funnel.streamingConversion(
        input.toDF().toDF("user_id", "ts", "event_type")
          .withWatermark("ts", "10 minutes"))
      .toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          received.add((r.getLong(0), r.getInt(1), r.getLong(2))))
      }
      .start()
    def t(s: String) = Timestamp.valueOf(s)
    val q1 = startQuery()
    try {
      input.addData((1L, t("2026-01-01 10:00:00"), "view"))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterFirst = received.size()
    val q2 = startQuery()
    try {
      input.addData((1L, t("2026-01-01 10:05:00"), "click"))
      q2.processAllAvailable()
      val base = t("2026-01-01 10:00:00").getTime / 1000
      val rows = received.asScala.toSeq
      assert(afterFirst === 1 && rows.head === ((1L, 1, base)))
      // Stage 2 requires the restored stage-1 state: a click with no
      // prior view emits nothing, so this row proves recovery.
      assert(rows.drop(1) === Seq((1L, 2, base + 300)),
        s"stage-2 advance must prove restored state: $rows")
    } finally q2.stop()
  }

  test("streaming funnel: a late-only batch cannot re-arm the idle timeout earlier") {
    import graft.ops.Funnel
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val events = input.toDF().toDF("user_id", "ts", "event_type")
      .withWatermark("ts", "1 minute")
    // 5-minute idle horizon. User 1's high-water mark is 10:10; batch 2 is
    // a purely-late duplicate at 10:00. Armed from the batch max alone the
    // deadline would REWIND to ~10:05 and user 1 would evict at batch 4
    // (watermark 10:11), letting batch 5's view open a phantom second
    // journey. Armed from max(stored, batch) the deadline stays 10:15.
    val q = Funnel.streamingConversion(events, idleTimeout = Some(300000L))
      .toDF()
      .writeStream.format("memory").queryName("funnel_late_sink")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-funnel-late-ckpt").toString)
      .start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((1L, t("2026-01-01 10:10:00"), "view"))
      q.processAllAvailable()
      input.addData((1L, t("2026-01-01 10:00:00"), "view")) // late duplicate
      q.processAllAvailable()
      input.addData((2L, t("2026-01-01 10:12:00"), "view"))
      q.processAllAvailable()
      // Watermark now 10:11 — past the rewound ~10:05 deadline the bug
      // would have armed, before the correct 10:15 one.
      input.addData((2L, t("2026-01-01 10:13:00"), "click"))
      q.processAllAvailable()
      input.addData((1L, t("2026-01-01 10:12:30"), "view"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_late_sink").collect()
        .filter(_.getLong(0) == 1L).map(r => (r.getInt(1), r.getLong(2)))
      val base = t("2026-01-01 10:10:00").getTime / 1000
      assert(u1.toSeq === Seq((1, base)),
        s"user 1 must keep its state (no phantom second journey): ${u1.toSeq}")
    } finally q.stop()
  }
}
