package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pipeline
import graft.config.PipelineConfig
import graft.ops.Parse
import graft.sim.Generator

/** Sensor fleets built on [[graft.sim.Generator]]: the generator's 24
  * sensors per building, with the fleet index folded into `building` and
  * `sensor_id`, serialized to the wire JSON the producer sends.
  */
object Fleet {

  /** Wire JSON for `n` readings, in `id` order. `genId` and `eventUs` are
    * SQL over `id`; `gen_id mod sensors` is the fleet index, 24 sensors to
    * a building. `fault` (SQL over the readings) marks temperature
    * readings a cooling fault lifts into the warning/critical band. A
    * seed-chosen 1 % of records are cut in half: malformed JSON.
    */
  def json(
      spark: SparkSession, n: Long, seed: Long, sensors: Int,
      genId: String, eventUs: String, fault: Option[String] = None): Array[String] = {
    val ids = spark.range(0L, n, 1L, 4)
      .selectExpr(s"$genId AS gen_id", s"timestamp_micros($eventUs) AS event_time")
    val readings = Generator.readingsFrom(ids, seed)
    val faulted = fault.fold(readings) { f =>
      readings.withColumn("value", when(expr(f),
        round(lit(27.5) + pmod(xxhash64(col("sensor_id"), col("timestamp"), lit(seed)),
          lit(600L)) / 100.0, 2)).otherwise(col("value")))
    }
    val js = Parse.readingsToJson(faulted).as(Encoders.STRING).collect()
    val gen = ids.select(col("gen_id")).as(Encoders.scalaLong).collect()
    Array.tabulate(js.length) { i =>
      val b = f"B${(gen(i) % sensors) / 24}%03d"
      val j = js(i).replace("\"sensor_id\":\"A_", s"\"sensor_id\":\"${b}_")
        .replace("\"building\":\"A\"", s"\"building\":\"$b\"")
      if (malformed(seed, i)) j.substring(0, j.length / 2) else j
    }
  }

  private def malformed(seed: Long, i: Long): Boolean =
    Math.floorMod(scala.util.hashing.MurmurHash3.productHash((seed, i, "malformed")), 100) == 0
}

/** What every streaming workload shares: the pipeline wired exactly as
  * production wires it, pointed at the in-process broker, embedded Derby
  * and the benchmark's notifier, plus the after-the-fact checks.
  */
final class StreamHarness(spark: SparkSession, work: String, traced: Boolean) {

  val url = "jdbc:derby:memory:graft;create=true"
  val cfg: PipelineConfig = {
    val c = PipelineConfig.fromEnv(Map(
      "KAFKA_BOOTSTRAP_SERVER" -> "in-process",
      "CHECKPOINT_ROOT" -> s"$work/checkpoints",
      "JDBC_DRIVER" ->
        (if (traced) "perfbench.ProbeDriver" else "org.apache.derby.jdbc.EmbeddedDriver")))
    c.copy(jdbc = c.jdbc.copy(url = url, user = "", password = ""))
  }
  val sensorTopic: String = cfg.kafka.sensorTopic
  val alertTopic: String = cfg.kafka.alertTopic
  val units = Seq("sensor_persistence", "alerts_dual_sink", "sensor_aggregates", "mail_notifier")

  private var pipeline: Pipeline = new Pipeline(spark, cfg, new BenchNotifier)
  private var queries: Seq[StreamingQuery] = Nil

  // The sink tables exist before the pipeline starts, as in a deployment.
  locally {
    val empty = spark.createDataset(Seq.empty[String])(Encoders.STRING)
      .select(col("value").cast("binary").alias("value"))
    val conn = new org.apache.derby.jdbc.EmbeddedDriver().connect(url, new java.util.Properties)
    try Seq(
      cfg.jdbc.readingsTable -> pipeline.readingsFrame(empty),
      cfg.jdbc.alertsTable -> pipeline.alertsFrame(empty),
      cfg.jdbc.aggregatesTable -> pipeline.aggregatesFrame(empty)).foreach { case (t, df) =>
      val st = conn.createStatement()
      try st.executeUpdate(graft.io.JdbcDdl.createTableDdl(url, t, df.schema)) finally st.close()
    } finally conn.close()
  }

  /** `new Pipeline(...).startAll()`, then wait until every unit has
    * resolved its starting offsets, so nothing produced afterwards is
    * skipped by the `latest` start.
    */
  def start(): Unit = {
    pipeline = new Pipeline(spark, cfg, new BenchNotifier)
    queries = pipeline.startAll()
    val deadline = System.currentTimeMillis() + 60000
    def resolved = units.forall(u =>
      new java.io.File(s"$work/checkpoints/$u/sources/0/initial-offsets.json").exists())
    while (!resolved) {
      failIfDead()
      require(System.currentTimeMillis() < deadline, "units did not start")
      Thread.sleep(10)
    }
  }

  def failIfDead(): Unit = queries.foreach(q => q.exception.foreach(e => throw e))

  /** Process everything produced so far: the three sensor units first,
    * then the mail unit over the alerts they wrote; wait for the progress
    * event of each unit's last batch.
    */
  def drain(): Unit = {
    queries.filterNot(_.name == "mail_notifier").foreach(_.processAllAvailable())
    queries.filter(_.name == "mail_notifier").foreach(_.processAllAvailable())
    awaitProgressEvents()
  }

  /** Wait until the listener has seen the last batch of every unit. */
  def awaitProgressEvents(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    queries.foreach { q =>
      // Idle triggers update lastProgress without posting an event; wait
      // only for batches that ran.
      val last = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        .lastOption.map(_.batchId).getOrElse(-1L)
      while (last >= 0 && !Listeners.batches.asScala.exists(b => b.query == q.name && b.batchId == last)) {
        require(System.currentTimeMillis() < deadline, s"no progress event for ${q.name}")
        Thread.sleep(5)
      }
    }
  }

  /** Wait until the aggregator has run a batch under `watermark` (the
    * batch that emits the windows it closes).
    */
  def awaitWatermark(watermarkIso: String): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!Listeners.batches.asScala.exists(b =>
        b.query == "sensor_aggregates" && b.watermark == watermarkIso)) {
      failIfDead()
      require(System.currentTimeMillis() < deadline, s"aggregator never reached $watermarkIso")
      Thread.sleep(5)
    }
  }

  def stop(): Unit = { pipeline.stopAll(); queries = Nil }

  def batchesOf(unit: String, fromMs: Long = 0L): Seq[Batch] =
    Listeners.batches.asScala.filter(b => b.query == unit && b.startMs >= fromMs).toSeq
      .sortBy(_.batchId)

  // ── checks, after the timed region ────────────────────────────────────

  /** Read a sink table back, split on `room` so the read runs in parallel. */
  private def table(name: String): DataFrame = {
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val split = ((100 to 103).map(r => s"\"room\" = $r") :+
      "\"room\" IS NULL OR \"room\" NOT BETWEEN 100 AND 103").toArray
    if (name == cfg.jdbc.aggregatesTable) spark.read.jdbc(url, name, props)
    else spark.read.jdbc(url, name, split, props)
  }

  /** Everything produced to `topic`, read back as a Kafka batch. */
  private def produced(topic: String): DataFrame =
    spark.read.format("kafka").option("subscribe", topic).load().select(col("value"))

  /** Rows of `expected` missing from `actual` plus rows of `actual` not in
    * `expected` (multiset difference, so duplicates count), comparing
    * after casting `actual` to `expected`'s types.
    */
  private def diff(expected: DataFrame, actual: DataFrame): (Long, Long) = {
    val a = actual.select(expected.schema.fields.map(f => col(f.name).cast(f.dataType).alias(f.name)).toSeq: _*)
    val e = expected.select(expected.columns.map(col).toSeq: _*)
    // An order-independent digest first; the multiset difference only
    // when the digests disagree.
    def digest(df: DataFrame) = {
      val cols = df.columns.map(col).toSeq
      df.agg(count(lit(1)), sum(hash(cols: _*).cast("long")),
        sum(pmod(xxhash64(cols: _*), lit(2147483647L)))).head().toSeq
    }
    if (digest(e) == digest(a)) (0L, 0L)
    else {
      val (lost, extra) = (e.exceptAll(a).count(), a.exceptAll(e).count())
      if (lost + extra == 0) (1L, 0L) else (lost, extra)
    }
  }

  final case class CheckResult(failures: Map[String, Long], counts: Map[String, Double])

  /** The four streaming checks. `closedUpTo` is the final watermark: the
    * aggregator must have emitted exactly the windows ending at or before
    * it. Malformed records are counted, not failed.
    */
  def check(closedUpTo: java.sql.Timestamp): CheckResult = {
    val kafka = produced(sensorTopic).cache()
    val readings = pipeline.readingsFrame(kafka).cache()
    val persisted = table(cfg.jdbc.readingsTable).cache()
    val (lostR, extraR) = diff(readings, persisted)

    val alerts = pipeline.alertsFrame(kafka).drop("created_at").cache()
    val (lostA, extraA) = diff(alerts, table(cfg.jdbc.alertsTable).drop("created_at"))

    def rounded(df: DataFrame) = df.withColumn("avg_value", round(col("avg_value"), 6))
    val windows = rounded(pipeline.aggregatesFrame(kafka)
      .where(col("window_end") <= lit(closedUpTo))).cache()
    val emitted = rounded(table(cfg.jdbc.aggregatesTable)).cache()
    val (lostW, extraW) = diff(windows, emitted)

    // Emails: each mail batch hands over min(100, mailable) of its alerts.
    val alertTopicRecs = Broker.topic(alertTopic)
    val Mailable = "\"severity\":\"(critical|warning)\"".r.unanchored
    val expectedMail = batchesOf("mail_notifier").map { b =>
      val mailable = (0 until Broker.Partitions).map { p =>
        alertTopicRecs.slice(p, b.startOffsets(p), b.endOffsets(p)).count(r =>
          Mailable.matches(new String(r.value, java.nio.charset.StandardCharsets.UTF_8)))
      }.sum
      math.min(graft.io.Sinks.MaxEmailsPerBatch, mailable).toLong
    }.sum
    val sent = BenchNotifier.sent.size.toLong
    val mailableTotal = (0 until Broker.Partitions).map { p =>
      alertTopicRecs.slice(p, 0, alertTopicRecs.ends(p)).count(r =>
        Mailable.matches(new String(r.value, java.nio.charset.StandardCharsets.UTF_8)))
    }.sum.toLong

    val nKafka = kafka.count()
    val malformedIn = nKafka - readings.where(col("sensor_id").isNotNull).count()
    val malformedPersisted = persisted.where(
      persisted.columns.map(c => col(c).isNull).reduce(_ && _)).count()

    // The probe's counts against a read-back, so boundary counts are trusted.
    val probeMismatch =
      if (!traced) 0L
      else Seq(cfg.jdbc.readingsTable, cfg.jdbc.alertsTable, cfg.jdbc.aggregatesTable).map { t =>
        math.abs(ProbeDriver.counts(t).rows.sum() - table(t).count())
      }.sum
    val failures = Map(
      "readings_lost" -> lostR, "readings_extra" -> extraR,
      "alerts_lost" -> lostA, "alerts_extra" -> extraA,
      "windows_lost" -> lostW, "windows_extra" -> extraW,
      "emails_off" -> math.abs(expectedMail - sent),
      "probe_rows_off" -> probeMismatch,
      "failed_queries" -> Listeners.failures.size.toLong)
    val counts = Map(
      "parse.malformed_in" -> malformedIn.toDouble,
      "parse.malformed_persisted" -> malformedPersisted.toDouble,
      "notifier.mailable" -> mailableTotal.toDouble,
      "notifier.sent" -> sent.toDouble,
      "sensor_aggregates.windows_emitted" -> emitted.count().toDouble)
    Seq(kafka, readings, persisted, alerts, windows, emitted).foreach(_.unpersist())
    CheckResult(failures, counts)
  }

  // ── per-layer metrics from the progress events ─────────────────────────

  def unitLayers(fromMs: Long, wallS: Double): Map[String, Double] = units.flatMap { u =>
    val bs = batchesOf(u, fromMs)
    def sum(keys: String*) = bs.map(b => keys.map(k => b.durationMs.getOrElse(k, 0L)).sum).sum / 1000.0
    val busy = sum("triggerExecution")
    Seq(
      s"$u.batches" -> bs.size.toDouble,
      s"$u.busy_s" -> busy,
      s"$u.idle_s" -> math.max(0.0, wallS - busy),
      s"$u.add_batch_s" -> sum("addBatch"),
      s"$u.planning_s" -> sum("queryPlanning"),
      s"$u.checkpoint_s" -> sum("walCommit", "commitOffsets"),
      s"$u.batch_p50_ms" -> Stats.pct(bs.map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble), 50))
  }.toMap ++ {
    val agg = batchesOf("sensor_aggregates", fromMs)
    Map(
      "sensor_aggregates.state_rows_max" -> agg.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "sensor_aggregates.state_mb_max" -> agg.map(_.stateBytes).maxOption.getOrElse(0L) / 1048576.0,
      "sensor_aggregates.state_update_s" -> agg.map(_.stateUpdateMs).sum / 1000.0,
      "sensor_aggregates.state_commit_s" -> agg.map(_.stateCommitMs).sum / 1000.0,
      "sensor_aggregates.late_rows_dropped" -> agg.map(_.droppedByWatermark).sum.toDouble)
  } ++ {
    val sensorUnits = units.take(3).flatMap(batchesOf(_, fromMs))
    val topic = Broker.topic(sensorTopic)
    Map(
      "source.read_amplification" ->
        (if (topic.produced == 0) 0.0 else topic.read.sum().toDouble / topic.produced),
      "source.lag_rows_max" -> sensorUnits.map(_.brokerLagRows).maxOption.getOrElse(0L).toDouble)
  }

  /** Per-table JDBC counts, the alert topic and the notifier. */
  def sinkLayers(): Map[String, Double] =
    Seq(cfg.jdbc.readingsTable, cfg.jdbc.alertsTable, cfg.jdbc.aggregatesTable).flatMap { t =>
      val c = ProbeDriver.counts(t)
      Seq(s"jdbc.$t.rows" -> c.rows.sum().toDouble, s"jdbc.$t.batches" -> c.batches.sum().toDouble,
        s"jdbc.$t.connections" -> c.connections.sum().toDouble,
        s"jdbc.$t.s" -> c.nanos.sum() / 1e9, s"jdbc.$t.errors" -> c.errors.sum().toDouble)
    }.toMap ++ Map(
      "alert_topic.rows" -> Broker.sinkRows.get().toDouble,
      "alert_topic.s" -> Broker.sinkNanos.get() / 1e9)
}

/** `pipeline`: the four units, first catching up after outages, then live.
  *
  * Catch-up: the units start once on the empty topic (resolving the
  * `latest` start) and stop. Then, round after round, a backlog from 2,400
  * sensors is produced while they are down (event time running on, with a
  * cooling fault that lifts the alert share to about 5 %), the pipeline is
  * restarted from the same checkpoints, and the round ends when every unit
  * has committed the backlog, the aggregator has run the batch under the
  * round's final watermark (emitting every window it closes), and the mail
  * unit has finished. A smaller first round is not timed: it warms the
  * huge-batch paths.
  *
  * Live: restarted once more, the units take an open loop at 5,000
  * readings/s from one producer thread in 100 ms ticks — 15,000 sensors at
  * the reference's 3 s cadence, each record stamped with the time it was
  * due. Live event time runs with the wall clock from a 4-minute-aligned
  * origin past the catch-up data, so no live window closes. After
  * [[WarmTicks]], `seconds` of readings are timed from due to committed in
  * `sensor_readings`. Batch times are still falling half a minute into a
  * JVM (JIT), so the live phase comes after the catch-up work.
  */
object PipelineWorkload {
  val Sensors = 15000
  val TickMs = 100
  val PerTick = 500 // 5,000 readings/s
  val Cycle = Sensors / PerTick // ticks per 3 s sweep
  val WarmTicks = 100

  val BacklogSensors = 2400
  val SweepMs = 3000L
  val WindowMs = 240000L
  val RoundSweeps = 50 // 120,000 readings, 2.5 minutes of event time
  val Rounds = 4
  val WarmRoundSweeps = 20

  def run(spark: SparkSession, h: StreamHarness, seed: Long, seconds: Int): Outcome = {
    val originMs = (1767225600L + Math.floorMod(seed, 1000L) * 240L) * 1000L
    val topic = Broker.topic(h.sensorTopic)
    h.start()
    h.stop()

    // ── catch-up ──
    val faultRoom = 100 + Math.floorMod(seed, 4L)
    val period = RoundSweeps * SweepMs / 1000
    val sizes = WarmRoundSweeps +: Seq.fill(Rounds)(RoundSweeps)
    var timing: Timing = null
    val allRounds = sizes.indices.map { r =>
      val from = sizes.take(r).sum.toLong
      val sweepSql = s"($from + id div $BacklogSensors)"
      // A cooling fault in one room number on every floor for 45 % of
      // each round: temperature alerts lift the alert share to ~5 %.
      val backlog = Fleet.json(spark, sizes(r).toLong * BacklogSensors, seed + r,
        BacklogSensors,
        genId = s"$sweepSql * $BacklogSensors + id % $BacklogSensors",
        eventUs = s"${originMs * 1000} + $sweepSql * ${SweepMs * 1000}",
        fault = Some(s"sensor_type = 'temperature' AND room = $faultRoom AND " +
          s"pmod(CAST(CAST(timestamp AS TIMESTAMP) AS LONG) - ${originMs / 1000}, $period) " +
          s"BETWEEN ${period * 30 / 100} AND ${period * 75 / 100}"))
      val now = System.currentTimeMillis()
      backlog.foreach(Broker.produce(h.sensorTopic, _, now))
      if (r == 1) { timing = Timing.begin(); HeapProbe.start() }
      // The round's final watermark: its last event time − the 1 minute delay.
      val lastEventMs = originMs + (from + sizes(r) - 1) * SweepMs
      val restart = System.currentTimeMillis()
      h.start()
      h.drain()
      h.awaitWatermark(isoMillis(lastEventMs - 60000))
      h.awaitProgressEvents()
      val done = h.units.flatMap(u => h.batchesOf(u, restart).map(_.commitMs)).max
      h.stop()
      (backlog.length.toLong, (done - restart) / 1000.0, lastEventMs)
    }
    val rounds = allRounds.drop(1)

    // ── live ──
    val measureTicks = seconds * 1000 / TickMs
    val ticks = WarmTicks + measureTicks
    // The first window boundary a minute past the catch-up data: the first
    // live batch closes the last catch-up window, during warm-up.
    val liveOriginMs = ((allRounds.last._3 + 60000) / WindowMs + 1) * WindowMs
    val js = Fleet.json(spark, ticks.toLong * PerTick, seed, Sensors,
      genId = s"(id div ${PerTick.toLong * Cycle}) * $Sensors + " +
        s"(id % $PerTick) * $Cycle + (id div $PerTick) % $Cycle",
      eventUs = s"${liveOriginMs * 1000} + (id div $PerTick) * ${TickMs * 1000L}")
    h.start()
    val startMs = System.currentTimeMillis() + 200
    var lateMax = 0L
    val producer = new Thread("producer") {
      override def run(): Unit = for (t <- 0 until ticks) {
        val due = startMs + t.toLong * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMax = math.max(lateMax, System.currentTimeMillis() - due)
        var k = t * PerTick
        while (k < (t + 1) * PerTick) { Broker.produce(h.sensorTopic, js(k), due); k += 1 }
      }
    }
    producer.setDaemon(true)
    producer.start()
    val windowStart = startMs + WarmTicks.toLong * TickMs
    val windowEnd = startMs + ticks.toLong * TickMs
    producer.join()
    h.failIfDead()
    val lagEnd = topic.produced -
      h.batchesOf("sensor_persistence").lastOption.map(_.endOffsets.sum).getOrElse(0L)
    val lastLiveEventMs = liveOriginMs + (ticks - 1).toLong * TickMs
    h.drain()
    h.awaitWatermark(isoMillis(lastLiveEventMs - 60000))
    h.awaitProgressEvents()
    h.stop()
    val heapMb = HeapProbe.stop()
    timing.end()

    // Reading due → its sensor_persistence batch committed.
    val latency = h.batchesOf("sensor_persistence", startMs).flatMap { b =>
      (0 until Broker.Partitions).flatMap(p =>
        topic.slice(p, b.startOffsets(p), b.endOffsets(p)).iterator
          .filter(r => r.dueMs >= windowStart && r.dueMs < windowEnd)
          .map(r => (b.commitMs - r.dueMs).toDouble))
    }
    // Reading due → its email handed to the notifier.
    val mail = BenchNotifier.sent.asScala.toSeq.map { case (at, e) =>
      (at, startMs + (BenchNotifier.triggeredMs(e) - liveOriginMs))
    }.filter { case (_, due) => due >= windowStart && due < windowEnd }
      .map { case (at, due) => (at - due).toDouble }

    val chk = h.check(new java.sql.Timestamp(lastLiveEventMs - 60000))
    val catchupS = rounds.map(_._2).sum
    Outcome(
      attempted = topic.produced,
      failures = chk.failures,
      e2e = Map(
        "p50_ms" -> Stats.pct(latency, 50),
        "tail_ms" -> Stats.pct(latency, 90),
        "throughput_per_s" -> rounds.map(_._1).sum / catchupS,
        "heap_live_peak_mb" -> heapMb),
      layers = chk.counts ++ h.unitLayers(timing.beginUs / 1000,
        catchupS + (windowEnd - startMs) / 1000.0) ++ Map(
        "source.lag_end_rows" -> lagEnd.toDouble,
        "gen.late_ms_max" -> lateMax.toDouble,
        "notifier.mail_p50_ms" -> Stats.pct(mail, 50),
        "notifier.mail_p99_ms" -> Stats.pct(mail, 99),
        "notifier.mail_samples" -> mail.size.toDouble,
        "readings.samples" -> latency.size.toDouble,
        "catchup.round_s" -> Stats.pct(rounds.map(_._2), 50)),
      timing = timing,
      info = Map(
        "catchup_rates" -> rounds.map { case (n, s, _) => Json.num(n / s) }.mkString("[", ",", "]")))
  }

  private def isoMillis(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))
}
