package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.harness.BenchCore._
import graft.harness.Canary

/** Hand-run measurement probes, one mode per question:
  *
  *   - `plan <query> [sfDir] [runs]` — formatted physical plan and per-run
  *     wall of one query, to stderr (defaults sf0.1, 2 runs).
  *   - `jobs <query> [sfDir] [runs]` — runs one query warm and prints, for
  *     the LAST run, every Spark job it spawned with wall time, stage/task
  *     counts, shuffle and spill bytes (defaults sf0.1, 3 runs).
  *     Construction (driver-side training, bounded collects) happens inside
  *     the measured window, matching Bench's timed region.
  *   - `dump <outDir> [suffix] [nameRegex]` — runs every registered query
  *     (SPARK_GRAFT_SF_DIR) through the noop sink and writes the formatted
  *     explain of the plan that actually ran (the final AQE plan) to
  *     `<outDir>/<query>_<suffix>.txt`, plus `SUMMARY_<suffix>.tsv` with one
  *     line per query: exchange, join and scan counts, codegen stages and
  *     plan lines. The counts are over the whole dump, which also carries
  *     AQE's initial plan.
  *   - `canary [cpus] [shufflePartitions] [n]` — n [[Canary]] samples under
  *     one session shape, for committing a quiet-host `canary_basis` of a
  *     new config without its full bench (defaults 8 / 8 / 6, the
  *     StreamBenchMain shape).
  *   - `bridge [cpus] [shufflePartitions] [n]` — the v1↔v2 canary-protocol
  *     conversion (v1 = one sample per site after the GC breather, v2 = two
  *     samples per site before it), interleaved site by site in one session
  *     so slow drift cancels; a v1-era `canary_min` divides by `v1_over_v2`
  *     before the v2 normalization applies (defaults 32 / 32 / 6).
  *
  * Usage: `runMain graft.tools.Probe <mode> [args]`.
  */
object Probe {
  private val Usage = "usage: Probe plan|jobs <query> [sfDir] [runs] | " +
    "dump <outDir> [suffix] [nameRegex] | canary|bridge [cpus] [parts] [n]"
  private val DefaultSfDir = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: name :: rest => plan(name, rest)
    case "jobs" :: name :: rest => jobs(name, rest)
    case "dump" :: outDir :: rest => dump(outDir, rest)
    case "canary" :: rest => canary(rest)
    case "bridge" :: rest => bridge(rest)
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def arg(rest: List[String], i: Int, default: String): String =
    rest.lift(i).getOrElse(default)

  private def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  private def withSession(cpus: String, parts: String)(
      body: SparkSession => Unit): Unit = {
    val spark = session(cpus, parts)
    try body(spark) finally spark.stop()
  }

  private def noop(spark: SparkSession, name: String, sfDir: String): Double = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def plan(name: String, rest: List[String]): Unit = {
    val sfDir = arg(rest, 0, DefaultSfDir)
    val c = cpus("16")
    withSession(c, shufflePartitions(sfDir, c)) { spark =>
      System.err.println(graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
      for (i <- 1 to arg(rest, 1, "2").toInt)
        System.err.println(f"[probe] $name run $i: ${noop(spark, name, sfDir)}%.2f s")
    }
  }

  private final case class Job(id: Int, desc: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var shuffleReadB: Long = 0L, var shuffleWriteB: Long = 0L,
      var spillB: Long = 0L)

  private def jobs(name: String, rest: List[String]): Unit = {
    val sfDir = arg(rest, 0, DefaultSfDir)
    val runs = arg(rest, 1, "3").toInt
    val c = cpus("32")
    withSession(c, c) { spark =>
      val jobs = new ConcurrentHashMap[Int, Job]()
      val stageToJob = new ConcurrentHashMap[Int, Job]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val j = Job(e.jobId, d, System.nanoTime())
          jobs.put(e.jobId, j)
          e.stageIds.foreach(s => stageToJob.put(s, j))
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          val j = jobs.get(e.jobId); if (j != null) j.end = System.nanoTime()
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val j = stageToJob.get(e.stageInfo.stageId)
          if (j != null) {
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
            val m = e.stageInfo.taskMetrics
            if (m != null) {
              j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
              j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
              j.spillB += m.diskBytesSpilled
            }
          }
        }
      }
      for (i <- 1 until runs)
        System.err.println(f"[probe] $name run $i: ${noop(spark, name, sfDir)}%.2f s")
      spark.sparkContext.addSparkListener(listener)
      val wall = noop(spark, name, sfDir)
      System.err.println(f"[probe] $name run $runs: $wall%.2f s")
      // Let straggler listener events drain before reading.
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      val t00 = js.headOption.map(_.start).getOrElse(0L)
      var sum = 0.0
      js.foreach { j =>
        val dur = (j.end - j.start) / 1e9
        sum += dur
        val gap = (j.start - t00) / 1e9
        System.err.println(
          f"[job] ${j.id}%3d at $gap%6.2f dur $dur%6.3f s stages ${j.stages}%2d " +
            f"tasks ${j.tasks}%4d shr ${j.shuffleReadB / 1024}%8d KiB " +
            f"shw ${j.shuffleWriteB / 1024}%8d KiB spill ${j.spillB / 1024}%6d KiB  ${j.desc.take(60)}")
      }
      System.err.println(f"[probe] $name: ${js.size} jobs, job-time sum $sum%.2f s, wall $wall%.2f s (gap = driver/planning)")
    }
  }

  /** Whole-stage-codegen stages in a formatted explain: the distinct
    * `[codegen id : N]` tags. Only an executed AQE plan carries them. */
  def codegenStages(plan: String): Int =
    """\[codegen id : (\d+)\]""".r.findAllMatchIn(plan).map(_.group(1))
      .toSet.size

  private def dump(outDir: String, rest: List[String]): Unit = {
    val out = Paths.get(outDir)
    val suffix = arg(rest, 0, "before")
    val nameFilter = rest.lift(1).map(_.r)
    Files.createDirectories(out)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val c = cpus("32")
    withSession(c, c) { spark =>
      // The noop write's own QueryExecution, delivered after it ran: its
      // explain is the final AQE plan with codegen ids. Actions a query
      // runs while it is built (collects, localCheckpoints) are not writes.
      val ran = new LinkedBlockingQueue[QueryExecution]()
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.logical.isInstanceOf[V2WriteCommand]) ran.put(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))
      val summary = new StringBuilder(
        "query\texchanges\tbroadcast_exchanges\tsmj\tbhj\tshj\tbnlj\tcartesian\twscg\tscans\tplan_lines\n")
      names.foreach { n =>
        try {
          ran.clear()
          noop(spark, n, sfDir)
          val qe = ran.poll(60, TimeUnit.SECONDS)
          require(qe != null, "no executed plan delivered")
          val plan = qe.explainString(ExplainMode.fromString("formatted"))
          Files.write(out.resolve(s"${n}_$suffix.txt"), plan.getBytes("UTF-8"))
          def count(tok: String): Int =
            plan.linesIterator.count(l => l.contains(tok))
          // "Exchange" alone would also match "BroadcastExchange" — count
          // shuffle exchanges as the difference.
          val bx = count("BroadcastExchange")
          val ex = count("Exchange") - bx
          summary.append(s"$n\t$ex\t$bx\t${count("SortMergeJoin")}\t" +
            s"${count("BroadcastHashJoin")}\t${count("ShuffledHashJoin")}\t" +
            s"${count("BroadcastNestedLoopJoin")}\t${count("CartesianProduct")}\t" +
            s"${codegenStages(plan)}\t${count("Scan parquet")}\t" +
            s"${plan.linesIterator.size}\n")
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $n failed: ${e.getMessage}")
          summary.append(s"$n\tERR\t\t\t\t\t\t\t\t\t\n")
        }
      }
      Files.write(out.resolve(s"SUMMARY_$suffix.tsv"),
        summary.toString.getBytes("UTF-8"))
      System.err.println(s"[probe] wrote ${names.size} plans to $out")
    }
  }

  /** `[cpus] [shufflePartitions] [n]`, parsed up front. */
  private def shape(rest: List[String], default: Int): (Int, Int, Int) =
    (arg(rest, 0, s"$default").toInt, arg(rest, 1, s"$default").toInt,
      arg(rest, 2, "6").toInt)

  private def canary(rest: List[String]): Unit = {
    val (c, parts, n) = shape(rest, 8)
    withSession(c.toString, parts.toString) { spark =>
      println(canaryLine(c, parts, (1 to n).map(_ => Canary.run(spark))))
    }
  }

  def canaryLine(cpus: Int, parts: Int, samples: Seq[Double]): String =
    obj(Seq("kind" -> quote("canary_probe"), "cpus" -> cpus,
      "shuffle_partitions" -> parts, "canary_s" -> jarr(samples.map(f2)),
      "canary_min" -> f2(samples.min),
      "canary_trusted" -> Canary.trusted(samples)))

  private def bridge(rest: List[String]): Unit = {
    val (c, parts, n) = shape(rest, 32)
    withSession(c.toString, parts.toString) { spark =>
      // One throwaway warmup sample: both protocols' committed bases sit
      // on probe-codegen-warmed JVMs, so neither arm pays the codegen.
      Canary.run(spark)
      val v1 = scala.collection.mutable.ArrayBuffer[Double]()
      val v2 = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to n).foreach { _ =>
        breather()
        v1 += Canary.run(spark) // v1 site: post-GC, 1 sample
        v2 += Canary.run(spark) // v2 site: pre-GC pair …
        v2 += Canary.run(spark) // … riding prior garbage
      }
      println(bridgeLine(c, parts, n, v1.toSeq, v2.toSeq))
    }
  }

  /** Trusted flags prepend a dummy warmup slot: the bridge already paid
    * the probe's codegen separately. */
  def bridgeLine(cpus: Int, parts: Int, rounds: Int, v1: Seq[Double],
      v2: Seq[Double]): String =
    obj(Seq("kind" -> quote("canary_bridge"), "cpus" -> cpus,
      "shuffle_partitions" -> parts, "rounds" -> rounds,
      "v1_s" -> jarr(v1.map(f2)), "v2_s" -> jarr(v2.map(f2)),
      "v1_min" -> f2(v1.min), "v2_min" -> f2(v2.min),
      "v1_over_v2" -> f2(v1.min / v2.min),
      "v1_trusted" -> Canary.trusted(0.0 +: v1),
      "v2_trusted" -> Canary.trusted(0.0 +: v2),
      "note" -> quote("convert a v1-era canary_min to v2 terms by dividing " +
        "by v1_over_v2; trusted flags prepend a dummy warmup slot because " +
        "the bridge already paid codegen separately")))
}
