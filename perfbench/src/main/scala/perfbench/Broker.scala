package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** In-process stand-in for the Kafka cluster the pipeline reads and
  * writes. Topics live in this JVM (Spark runs `local[N]`, so executors
  * share it); each topic has [[Partitions]] partitions, as the reference's
  * `init-topics.txt` provisions, and records are spread over them
  * round-robin.
  *
  * Every record carries the time it was due to be produced (the Kafka
  * `timestamp`), so end-to-end latency is measured from the schedule, not
  * from when a late producer got round to it.
  */
object Broker {

  val Partitions = 3

  final class Rec(val key: Array[Byte], val value: Array[Byte], val dueMs: Long)

  final class Topic(val name: String) {
    val parts: Array[ArrayBuffer[Rec]] = Array.fill(Partitions)(ArrayBuffer.empty[Rec])
    private var next = 0L
    val read = new LongAdder

    def append(key: Array[Byte], value: Array[Byte], dueMs: Long): Unit =
      synchronized {
        parts((next % Partitions).toInt) += new Rec(key, value, dueMs)
        next += 1
      }

    def ends: Array[Long] = synchronized(parts.map(_.length.toLong))

    def produced: Long = synchronized(next)

    def slice(p: Int, from: Long, until: Long): IndexedSeq[Rec] =
      synchronized(parts(p).slice(from.toInt, until.toInt).toIndexedSeq)

  }

  private val topics = new ConcurrentHashMap[String, Topic]()

  /** Records appended through the batch sink, and nanoseconds spent there. */
  val sinkRows = new AtomicLong
  val sinkNanos = new AtomicLong

  def topic(name: String): Topic = topics.computeIfAbsent(name, new Topic(_))

  def produce(topicName: String, value: String, dueMs: Long): Unit =
    topic(topicName).append(null, value.getBytes(UTF_8), dueMs)

  /** Offsets as Kafka's source writes them: `{"topic":{"0":n,"1":n,...}}`. */
  def offsetJson(topicName: String, ends: Array[Long]): String =
    ends.zipWithIndex.map { case (o, p) => s""""$p":$o""" }
      .mkString(s"""{"$topicName":{""", ",", "}}")

  private val OffsetEntry = """"(\d+)":(\d+)""".r

  def parseOffsets(json: String): Array[Long] = {
    val m = OffsetEntry.findAllMatchIn(json)
      .map(x => x.group(1).toInt -> x.group(2).toLong).toMap
    Array.tabulate(Partitions)(p => m.getOrElse(p, 0L))
  }

  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))
}

final class BrokerOffset(val topic: String, val ends: Array[Long]) extends Offset {
  override def json(): String = Broker.offsetJson(topic, ends)
}

final case class BrokerSlice(topic: String, partition: Int, from: Long, until: Long)
  extends InputPartition

/** Registers as the `kafka` data source: micro-batch reads through the V2
  * API, batch writes (the alert topic) through V1's
  * [[CreatableRelationProvider]].
  */
final class BrokerSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with RelationProvider {

  override def shortName(): String = "kafka"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Broker.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new BrokerTable(properties.asScala.toMap)

  /** Batch read of a whole topic (`subscribe`), one Spark partition per
    * topic partition, as Kafka's batch source reads `earliest` to `latest`.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val topicName = parameters("subscribe")
    val ends = Broker.topic(topicName).ends
    val ctx = sqlContext
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = Broker.schema
      override def buildScan(): RDD[Row] = BrokerSource.scan(ctx, topicName, ends)
    }
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val topicName = parameters("topic")
    val startUs = Clock.nowUs
    val t0 = System.nanoTime()
    val rows = data.selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
      .queryExecution.toRdd
      .mapPartitions { it =>
        val t = Broker.topic(topicName)
        var n = 0L
        val now = System.currentTimeMillis()
        it.foreach { r =>
          t.append(if (r.isNullAt(0)) null else r.getBinary(0), r.getBinary(1), now)
          n += 1
        }
        Iterator.single(n)
      }.collect().sum
    Broker.sinkRows.addAndGet(rows)
    Broker.sinkNanos.addAndGet(System.nanoTime() - t0)
    Trace.add(Span("broker.write", "", Trace.parentHere(), startUs, Clock.nowUs))
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = Broker.schema
    }
  }
}

object BrokerSource {
  def scan(ctx: SQLContext, topicName: String, ends: Array[Long]): RDD[Row] =
    ctx.sparkContext.parallelize(0 until Broker.Partitions, Broker.Partitions).flatMap { p =>
      Broker.topic(topicName).slice(p, 0, ends(p)).iterator.zipWithIndex.map { case (r, i) =>
        Row(r.key, r.value, topicName, p, i.toLong, new java.sql.Timestamp(r.dueMs), 0)
      }
    }
}

final class BrokerTable(options: Map[String, String]) extends Table with SupportsRead {
  private val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  override def name(): String = s"broker:${opts.getOrElse("subscribe", "?")}"
  override def schema(): StructType = Broker.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan {
      override def readSchema(): StructType = Broker.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new BrokerStream(opts("subscribe"),
          opts.getOrElse("startingoffsets", "latest"), checkpointLocation)
    }
}

/** One topic read as a micro-batch stream. As Kafka's source does, the
  * `latest` start is resolved once and written beside the checkpoint, so a
  * query stopped before its first batch resumes where it first looked.
  */
final class BrokerStream(topicName: String, starting: String, checkpoint: String)
    extends MicroBatchStream {

  private def topic = Broker.topic(topicName)

  override def initialOffset(): Offset = {
    val dir =
      if (checkpoint.startsWith("file:")) new java.io.File(new java.net.URI(checkpoint))
      else new java.io.File(checkpoint)
    val f = new java.io.File(dir, "initial-offsets.json")
    val ends =
      if (f.exists()) Broker.parseOffsets(
        new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8))
      else {
        val e = if (starting == "earliest") Array.fill(Broker.Partitions)(0L) else topic.ends
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Broker.offsetJson(topicName, e).getBytes(UTF_8))
        e
      }
    new BrokerOffset(topicName, ends)
  }

  override def latestOffset(): Offset = new BrokerOffset(topicName, topic.ends)

  override def deserializeOffset(json: String): Offset =
    new BrokerOffset(topicName, Broker.parseOffsets(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BrokerOffset].ends
    val e = end.asInstanceOf[BrokerOffset].ends
    (0 until Broker.Partitions).filter(p => e(p) > s(p))
      .map(p => BrokerSlice(topicName, p, s(p), e(p)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = BrokerReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object BrokerReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s = partition.asInstanceOf[BrokerSlice]
    val topic = Broker.topic(s.topic)
    val recs = topic.slice(s.partition, s.from, s.until)
    val topicUtf8 = UTF8String.fromString(s.topic)
    new PartitionReader[InternalRow] {
      private var i = -1
      // Records handed to Spark, so a reader stopped early (a limit) counts
      // only what it consumed.
      override def next(): Boolean = {
        i += 1
        val more = i < recs.length
        if (more) topic.read.increment()
        more
      }
      override def get(): InternalRow = {
        val r = recs(i)
        InternalRow(r.key, r.value, topicUtf8, s.partition, s.from + i,
          r.dueMs * 1000L, 0)
      }
      override def close(): Unit = ()
    }
  }
}
