package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverPropertyInfo, PreparedStatement}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{AlertEmail, AlertNotifier}

/** Wall clock in epoch microseconds with nanosecond-timer resolution, so
  * spans from every probe share one time base.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is a key ("job:12", "batch:q:7",
  * "stage:31", "query:name") resolved to a span id when the trace is
  * written.
  */
final case class Span(name: String, key: String, parent: String, startUs: Long, endUs: Long)

object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: => Span): Unit = if (on) spans.add(s)

  /** The span that caused work on this thread: the Spark stage of a task
    * thread, else the streaming batch or curation query of the driver
    * thread that runs it.
    */
  def parentHere(): String = {
    val tc = TaskContext.get()
    if (tc != null) s"stage:${tc.stageId()}"
    else {
      val c = org.apache.spark.SparkContext.getOrCreate()
      Option(c.getLocalProperty(Listeners.QueryIdKey)).map { id =>
        s"batch:${Listeners.queryNames.getOrDefault(id, id)}:" +
          c.getLocalProperty(Listeners.BatchIdKey)
      }.orElse(Option(c.getLocalProperty(Listeners.OpKey)).map("query:" + _))
        .getOrElse("run")
    }
  }
}

/** Row, batch, connection, time and error counts for one table's inserts. */
final class TableCounts {
  val rows, batches, connections, nanos, errors = new LongAdder
}

/** Delegating JDBC driver named in `JdbcConfig.driver`. The URL stays
  * `jdbc:derby:` so Spark still resolves the Derby dialect; every
  * connection it opens is Derby's, wrapped to count and time the INSERT
  * traffic per table.
  */
final class ProbeDriver extends Driver {
  private val derby = new org.apache.derby.jdbc.EmbeddedDriver

  override def connect(url: String, info: java.util.Properties): Connection = {
    val c = derby.connect(url, info)
    if (c == null) null else ProbeDriver.wrap(c)
  }
  override def acceptsURL(url: String): Boolean = derby.acceptsURL(url)
  override def getPropertyInfo(url: String, info: java.util.Properties): Array[DriverPropertyInfo] =
    derby.getPropertyInfo(url, info)
  override def getMajorVersion: Int = derby.getMajorVersion
  override def getMinorVersion: Int = derby.getMinorVersion
  override def jdbcCompliant(): Boolean = derby.jdbcCompliant()
  override def getParentLogger: java.util.logging.Logger = derby.getParentLogger
}

object ProbeDriver {
  val tables = new ConcurrentHashMap[String, TableCounts]()
  def counts(table: String): TableCounts =
    tables.computeIfAbsent(table.toLowerCase(java.util.Locale.ROOT), _ => new TableCounts)

  private val InsertInto = """(?i)^\s*INSERT\s+INTO\s+"?([A-Za-z0-9_.]+)"?""".r.unanchored

  private def timed[T](t: Option[TableCounts], name: String)(f: => T): T = {
    val s = Clock.nowUs
    val t0 = System.nanoTime()
    try f
    catch { case e: Throwable => t.foreach(_.errors.increment()); throw e }
    finally {
      t.foreach(_.nanos.add(System.nanoTime() - t0))
      if (t.isDefined) Trace.add(Span(name, "", Trace.parentHere(), s, Clock.nowUs))
    }
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  def wrap(conn: Connection): Connection = {
    // The table this connection inserts into, once it prepares an INSERT.
    var table: Option[TableCounts] = None
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "prepareStatement" =>
              val st = ProbeDriver.invoke(conn, m, args).asInstanceOf[PreparedStatement]
              args(0).asInstanceOf[String] match {
                case InsertInto(t) =>
                  if (table.isEmpty) { table = Some(counts(t)); table.get.connections.increment() }
                  wrapStatement(st, counts(t))
                case _ => st
              }
            case "commit" => timed(table, "jdbc.commit")(ProbeDriver.invoke(conn, m, args))
            case _ => ProbeDriver.invoke(conn, m, args)
          }
      }).asInstanceOf[Connection]
  }

  private def wrapStatement(st: PreparedStatement, t: TableCounts): PreparedStatement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "executeBatch" =>
              val r = timed(Some(t), "jdbc.executeBatch")(ProbeDriver.invoke(st, m, args))
              t.batches.increment()
              t.rows.add(r.asInstanceOf[Array[Int]].length.toLong)
              r
            case "executeUpdate" =>
              val r = timed(Some(t), "jdbc.executeUpdate")(ProbeDriver.invoke(st, m, args))
              t.batches.increment(); t.rows.add(r.asInstanceOf[Integer].longValue)
              r
            case _ => ProbeDriver.invoke(st, m, args)
          }
      }).asInstanceOf[PreparedStatement]
}

/** The pipeline's notifier in the benchmark: records when each email was
  * handed over and which reading triggered it.
  */
final class BenchNotifier extends AlertNotifier {
  override def send(email: AlertEmail): Unit = {
    val s = Clock.nowUs
    BenchNotifier.sent.add((System.currentTimeMillis(), email))
    Trace.add(Span("notifier.send", "", Trace.parentHere(), s, Clock.nowUs))
  }
}

object BenchNotifier {
  val sent = new ConcurrentLinkedQueue[(Long, AlertEmail)]()

  private val Triggered = """Déclenchée\s*:\s*(\S+ \S+)""".r.unanchored

  /** The `triggered_at` of the alert behind an email, epoch ms (UTC). */
  def triggeredMs(e: AlertEmail): Long = e.body match {
    case Triggered(ts) => java.sql.Timestamp.valueOf(ts).getTime
    case _ => throw new IllegalStateException(s"email without trigger time: ${e.subject}")
  }
}

/** One micro-batch as its progress event reports it. */
final case class Batch(
    query: String, batchId: Long, startMs: Long, durationMs: Map[String, Long],
    rows: Long, startOffsets: Array[Long], endOffsets: Array[Long],
    watermark: String, stateRows: Long, stateBytes: Long,
    stateUpdateMs: Long, stateCommitMs: Long, droppedByWatermark: Long,
    brokerLagRows: Long) {
  def commitMs: Long = startMs + durationMs.getOrElse("triggerExecution", 0L)
}

/** Listeners at Spark's public boundaries: streaming progress (always on,
  * it carries the commit times latency is measured from), and, in traced
  * runs, job/stage/task totals and per-query planning time.
  */
object Listeners {
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  val OpKey = "perfbench.op"

  val queryNames = new ConcurrentHashMap[String, String]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val failures = new ConcurrentLinkedQueue[String]()

  private def isoMs(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  /** Records every micro-batch; the broker lag is read as the event arrives. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, e.name)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(x => failures.add(s"${queryNames.get(e.id.toString)}: $x"))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.head
      val end = Broker.parseOffsets(src.endOffset)
      val topic = """\{"([^"]+)"""".r.findFirstMatchIn(src.endOffset).map(_.group(1))
      val lag = topic.map(t => Broker.topic(t).produced - end.sum).getOrElse(0L)
      val st = p.stateOperators.headOption
      val b = Batch(p.name, p.batchId, isoMs(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        Option(src.startOffset).map(Broker.parseOffsets).getOrElse(Array.fill(Broker.Partitions)(0L)),
        end, p.eventTime.asScala.getOrElse("watermark", ""),
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.allUpdatesTimeMs).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L),
        st.map(_.numRowsDroppedByWatermark).getOrElse(0L), lag)
      batches.add(b)
      Trace.add(Span("batch." + p.name, s"batch:${p.name}:${p.batchId}", "",
        b.startMs * 1000L, b.commitMs * 1000L))
    }
  }

  // ── traced runs only ───────────────────────────────────────────────────
  final class SparkTotals {
    var jobs, stages, tasks = 0L
    var taskNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

    def snapshot: Map[String, Double] = synchronized(Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.task_s" -> taskNs / 1e9,
      "spark.gc_s" -> gcMs / 1000.0,
      "spark.shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> shuffleRead / 1048576.0,
      "spark.spill_mb" -> spill / 1048576.0))
  }
  val spark = new SparkTotals
  /** Per-op (curation query) job counts and busy intervals. */
  val opJobs = new ConcurrentHashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  val stageToJob = new ConcurrentHashMap[Int, Int]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(QueryIdKey)).map { id =>
        s"batch:${queryNames.getOrDefault(id, id)}:${p.getProperty(BatchIdKey)}"
      }).orElse(props.flatMap(p => Option(p.getProperty(OpKey)).map("query:" + _)))
        .getOrElse("run")
      jobStart.put(e.jobId, (Clock.nowUs, parent))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val now = Clock.nowUs
      Option(jobStart.remove(e.jobId)).foreach { case (s, parent) =>
        spark.synchronized { spark.jobs += 1; spark.jobIntervals += ((s, now)) }
        if (parent.startsWith("query:")) {
          val jobs = opJobs.computeIfAbsent(parent.stripPrefix("query:"), _ => mutable.ArrayBuffer.empty)
          jobs.synchronized { jobs += ((s, now)) }
        }
        Trace.add(Span("spark.job", s"job:${e.jobId}", parent, s, now))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      spark.synchronized { spark.stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) spark.synchronized {
        spark.tasks += 1
        spark.taskNs += m.executorRunTime * 1000000L
        spark.gcMs += m.jvmGCTime
        spark.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spark.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spark.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Planning (analysis + optimization + planning phases) of every SQL
    * execution: (epoch ms the first phase began, nanoseconds). The listener
    * runs on another thread, so the curation loop matches them to its
    * queries by time.
    */
  val planning = new ConcurrentLinkedQueue[(Long, Long)]()
  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) planning.add((phases.map(_.startTimeMs).min,
        phases.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}

/** Peak heap in use right after a collection: the heap pools' usage
  * after every GC, young ones included, from the collectors' notifications.
  * Counting starts at [[start]].
  */
object HeapProbe {
  @volatile private var counting = false
  @volatile var peakBytes = 0L

  private val listener: javax.management.NotificationListener = (n, _) =>
    if (counting && n.getType ==
        com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peakBytes) peakBytes = used }
    }

  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def start(): Unit = { peakBytes = 0L; counting = true }
  def stop(): Double = { counting = false; peakBytes / 1048576.0 }
}
