package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  /** Nearest-rank percentile; 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** Percentile interpolated between the two nearest ranks, so that a
    * few samples give a value that moves smoothly when two swap places;
    * 0 for no samples.
    */
  def interpolated(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of `[start, end)` intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The timed region of a run, with the Spark engine totals at its ends. */
final class Timing private (val beginUs: Long) {
  val sparkAtBegin: Map[String, Double] = Listeners.spark.snapshot
  var sparkAtEnd: Map[String, Double] = Map.empty
  var endUs = 0L
  def elapsedS: Double = ((if (endUs > 0) endUs else Clock.nowUs) - beginUs) / 1e6
  def end(): Unit = { endUs = Clock.nowUs; sparkAtEnd = Listeners.spark.snapshot }
}
object Timing { def begin(): Timing = new Timing(Clock.nowUs) }

final case class Outcome(
    attempted: Long,
    failures: Map[String, Long],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    timing: Timing,
    info: Map[String, String] = Map.empty)

/** Just enough JSON for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def writeFile(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Entry point: `--workload pipeline|curation --seed N --seconds S
  * --trace 0|1 --work DIR --data DIR --out FILE [--trace-out FILE]`.
  * Writes one JSON result to `--out`; `perfbench/run.py` turns it into the
  * benchmark's output line.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val loadBefore = loadAvg()

    val spark = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(Listeners.streaming)
    Trace.on = traced
    if (traced) {
      spark.sparkContext.addSparkListener(Listeners.sparkListener)
      spark.listenerManager.register(Listeners.executionListener)
    }

    val harness = if (workload == "curation") None else Some(new StreamHarness(spark, work, traced))
    val o = workload match {
      case "pipeline" => PipelineWorkload.run(spark, harness.get, seed, seconds)
      case "curation" => Curation.run(spark, a("data"), seed, seconds, s"$work/answers")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    harness.foreach(_.stop())
    val checkedUs = Clock.nowUs

    val layers = mutable.Map.empty[String, Double] ++ o.layers
    var canary = Seq.empty[Double]
    if (traced) {
      layers ++= harness.map(_.sinkLayers()).getOrElse(Map.empty)
      layers ++= engineLayers(o.timing)
      layers("notifier.delivery_ratio") =
        if (layers.getOrElse("notifier.mailable", 0.0) > 0) layers("notifier.sent") / layers("notifier.mailable") else 0.0
      layers("notifier.send_s") = Trace.spans.asScala.filter(_.name == "notifier.send")
        .map(s => s.endUs - s.startUs).sum / 1e6
      canary = (1 to 4).map(_ => graft.harness.Canary.run(spark))
    }

    val failed = o.failures.values.sum
    val e2e = o.e2e + ("setup_s" -> (o.timing.beginUs - jvmStartUs) / 1e6)
    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "failures" -> Json.nums(o.failures.map { case (k, v) => k -> v.toDouble }),
      "failed_share" -> Json.num(failed.toDouble / math.max(1L, o.attempted)),
      "measured_s" -> Json.num(o.timing.elapsedS),
      "check_s" -> Json.num((checkedUs - o.timing.endUs) / 1e6),
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_before" -> Json.num(loadBefore), "load_after" -> Json.num(loadAvg()),
      "canary_s" -> canary.map(Json.num).mkString("[", ",", "]"),
      "canary_min_s" -> (if (canary.isEmpty) "null" else Json.num(canary.min)),
      "canary_trusted" -> graft.harness.Canary.trusted(canary).toString) ++ o.info
    Json.writeFile(a("out"), Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> failed.toString,
      "e2e" -> Json.nums(e2e),
      "layers" -> Json.nums(layers.toMap),
      "info" -> Json.obj(info))))
    if (traced) TraceOut.write(a("trace-out"), jvmStartUs, o.timing, checkedUs)
    spark.stop()
  }

  private def loadAvg(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Spark engine totals over the timed region (traced runs). */
  private def engineLayers(t: Timing): Map[String, Double] = {
    val inRegion = Listeners.spark.synchronized(Listeners.spark.jobIntervals.toSeq)
      .filter { case (b, e) => e > t.beginUs && b < t.endUs }
      .map { case (b, e) => (math.max(b, t.beginUs), math.min(e, t.endUs)) }
    t.sparkAtEnd.map { case (k, v) => k -> (v - t.sparkAtBegin(k)) } +
      ("spark.driver_gap_s" -> (t.elapsedS - Stats.unionUs(inRegion) / 1e6))
  }
}

/** Writes the traced run's spans, parents resolved and self time derived:
  * run → phase (setup, measure, check) → streaming micro-batch or
  * curation query → Spark job → JDBC call, broker write or notifier send.
  */
object TraceOut {
  def write(path: String, runStartUs: Long, t: Timing, checkedUs: Long): Unit = {
    val endUs = Clock.nowUs
    val phases = Seq(
      Span("phase.setup", "phase:setup", "run", runStartUs, t.beginUs),
      Span("phase.measure", "phase:measure", "run", t.beginUs, t.endUs),
      Span("phase.check", "phase:check", "run", t.endUs, checkedUs))
    val all = (Span("run", "run", "", runStartUs, endUs) +: phases) ++ Trace.spans.asScala.toSeq
    val ids = all.zipWithIndex.collect { case (s, i) if s.key.nonEmpty => s.key -> i }.toMap
    def phaseAt(us: Long): Int =
      phases.indexWhere(p => us >= p.startUs && us < p.endUs) match {
        case -1 => 0
        case i => i + 1
      }
    val parentOf: IndexedSeq[Int] = all.zipWithIndex.map { case (s, i) =>
      if (i == 0) -1
      else {
        val key =
          if (s.parent.startsWith("stage:"))
            Option(Listeners.stageToJob.get(s.parent.stripPrefix("stage:").toInt)).map(j => s"job:$j")
          else Some(s.parent).filter(_ != "run") // "run": no cause known, so its phase
        key.flatMap(ids.get).filter(_ != i).getOrElse(
          if (s.key.startsWith("phase:")) 0 else phaseAt(s.startUs))
      }
    }.toIndexedSeq
    val children = parentOf.zipWithIndex.filter(_._1 >= 0).groupBy(_._1)
      .map { case (p, cs) => p -> cs.map(_._2) }
    val self = all.indices.map { i =>
      val s = all(i)
      val kids = children.getOrElse(i, Nil).map(all).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).filter { case (b, e) => e > b }
      (s.endUs - s.startUs) - Stats.unionUs(kids)
    }
    val spans = all.indices.map { i =>
      val s = all(i)
      Json.obj(Seq("id" -> i.toString, "name" -> Json.str(s.name), "parent" -> parentOf(i).toString,
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString, "self_us" -> self(i).toString))
    }
    val byName = all.indices.groupBy(i => all(i).name).toSeq.sortBy(_._1).map { case (n, is) =>
      n -> Json.obj(Seq("count" -> is.size.toString,
        "total_s" -> Json.num(is.map(i => all(i).endUs - all(i).startUs).sum / 1e6),
        "self_s" -> Json.num(is.map(self).sum / 1e6)))
    }
    Json.writeFile(path, Json.obj(Seq("summary" -> Json.obj(byName),
      "spans" -> spans.mkString("[\n", ",\n", "]"))))
  }
}
