package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the in-process broker's Kafka behaviour the benchmark relies on.
  * Run with `sbt test` from `perfbench/`.
  */
class BrokerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val listening = spark.streams.addListener(Listeners.streaming)

  override def beforeAll(): Unit = listening

  override def afterAll(): Unit = spark.stop()

  private def values(df: DataFrame): Seq[String] =
    df.selectExpr("CAST(value AS STRING)").collect().map(_.getString(0)).toSeq

  /** A checkpointed query over `topic` collecting every value it reads. */
  private def collect(topic: String, checkpoint: String, into: mutable.Buffer[String],
      starting: String = "latest"): StreamingQuery =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", "in-process")
      .option("subscribe", topic)
      .option("startingOffsets", starting)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val vs = values(df)
        into.synchronized { into ++= vs }
        ()
      }
      .start()

  private def awaitStarted(checkpoint: String): Unit =
    while (!new java.io.File(s"$checkpoint/sources/0/initial-offsets.json").exists())
      Thread.sleep(10)

  test("the kafka format resolves to the broker") {
    val src = org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource("kafka", spark.sessionState.conf)
    assert(src == classOf[BrokerSource])
  }

  test("records spread evenly over the three partitions") {
    (0 until 30).foreach(i => Broker.produce("t-even", s"r$i", 0L))
    assert(Broker.topic("t-even").ends.toSeq == Seq(10L, 10L, 10L))
  }

  test("startingOffsets=latest skips what was produced before the start") {
    Broker.produce("t-latest", "before", 0L)
    val seen = mutable.Buffer.empty[String]
    val cp = Files.createTempDirectory("broker-latest").toString
    val q = collect("t-latest", cp, seen)
    try {
      awaitStarted(cp)
      Seq("a", "b", "c").foreach(Broker.produce("t-latest", _, 0L))
      q.processAllAvailable()
      assert(seen.sorted == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("a restarted query resumes from its checkpoint, exactly once") {
    val seen = mutable.Buffer.empty[String]
    val cp = Files.createTempDirectory("broker-resume").toString
    val q1 = collect("t-resume", cp, seen)
    awaitStarted(cp)
    (1 to 4).foreach(i => Broker.produce("t-resume", s"x$i", 0L))
    q1.processAllAvailable()
    q1.stop()
    (5 to 9).foreach(i => Broker.produce("t-resume", s"x$i", 0L))
    val q2 = collect("t-resume", cp, seen)
    try {
      q2.processAllAvailable()
      assert(seen.sorted == (1 to 9).map(i => s"x$i").sorted)
    } finally q2.stop()
  }

  test("the pipeline's units stop and restart from the same checkpoints") {
    val work = Files.createTempDirectory("broker-pipeline").toString
    val h = new StreamHarness(spark, work, traced = false)
    h.start()
    Seq("""{"sensor_id":"A_1_100_temperature","sensor_type":"temperature",""" +
      """"location":{"building":"A","floor":1,"room":100},"timestamp":"2026-01-01T00:00:00.000000",""" +
      """"value":33.5,"unit":"celsius","metadata":{"battery_level":90,"signal_strength":-50}}""")
      .foreach(Broker.produce(h.sensorTopic, _, 0L))
    h.drain()
    h.stop()
    val persisted = Listeners.batches.toArray.count(
      _.asInstanceOf[Batch].query == "sensor_persistence")
    h.start()
    h.drain()
    h.stop()
    // Nothing new arrived, so the restart replays nothing.
    assert(Listeners.batches.toArray.count(
      _.asInstanceOf[Batch].query == "sensor_persistence") == persisted)
    assert(BenchNotifier.sent.size == 1)
  }

  test("alert payloads written to iot-alert read back unchanged") {
    import spark.implicits._
    val payloads = Seq("k1" -> """{"severity":"critical"}""", "k2" -> """{"severity":"warning"}""")
    payloads.toDF("key", "value").write.format("kafka")
      .option("kafka.bootstrap.servers", "in-process")
      .option("topic", "t-alert").save()
    val seen = mutable.Buffer.empty[String]
    val q = collect("t-alert", Files.createTempDirectory("broker-alert").toString, seen,
      starting = "earliest")
    try {
      q.processAllAvailable()
      assert(seen.sorted == payloads.map(_._2).sorted)
      val t = Broker.topic("t-alert")
      val keys = (0 until Broker.Partitions).flatMap(p => t.slice(p, 0, t.ends(p)))
        .map(r => new String(r.key, "UTF-8"))
      assert(keys.sorted == Seq("k1", "k2"))
    } finally q.stop()
  }
}
