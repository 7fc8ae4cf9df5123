package graft.harness

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The measurement protocol every bench main shares: session factory,
  * host-load sampling, the drift-canary log, the noop-sink query timer,
  * the cold + load-defended warm-pass protocol, and the JSON helpers the
  * artifacts are written with. The mains (`graft.Bench`,
  * `tools.BenchSf10`, `tools.BenchSf100`, [[StreamBenchMain]]) keep only
  * their query lists, optional sections and artifact layouts.
  */
object BenchCore {

  /** `local[cpus]` session, UTC, no UI. The production `graft.Main` is the
    * one entry point that builds its own session. */
  def session(cpus: String, shufflePartitions: String,
      logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR for the benches: the consumer tails the run's output, and
    // "broadcasting large task binary" WARN lines would crowd out the
    // JSON result line.
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** GRAFT_SHUFFLE_PARTITIONS, else decade-scale sizing from the fixture:
    * lineitem over 512 MB means the sf10-class decade, where `cpus`
    * partitions put ~1M wide rows in one task's sort, so 128. */
  def shufflePartitions(sfDir: String, cpus: String): String =
    sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS",
      try {
        val li = Paths.get(s"$sfDir/lineitem.parquet")
        if (Files.exists(li) && Files.size(li) > 512L * 1024 * 1024) "128"
        else cpus
      } catch { case _: Throwable => cpus })

  /** Absorb session/codegen/Hadoop warmup so the first measured query is
    * not charged ~3 s of one-time setup. Best-effort. */
  def warmup(spark: SparkSession, sfDir: String, tag: String): Unit =
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] warmup skipped: ${e.getMessage}")
    }

  /** Wall clock against GRAFT_BENCH_BUDGET_S (default per main): optional
    * sections and extra passes start only if the remainder covers them. */
  final class Budget(defaultS: Double) {
    private val start = System.nanoTime()
    val budgetS: Double = sys.env.get("GRAFT_BENCH_BUDGET_S").map(_.toDouble)
      .getOrElse(defaultS)
    def elapsedS(): Double = (System.nanoTime() - start) / 1e9
    def remainingS(): Double = budgetS - elapsedS()
  }

  /** External cores above which a warm pass is loud: cores/4, or
    * GRAFT_BENCH_LOAD_BAR. */
  def loadBar(cpus: String): Double =
    sys.env.get("GRAFT_BENCH_LOAD_BAR").map(_.toDouble)
      .getOrElse(cpus.toDouble / 4.0)

  /** 1-minute load average, sampled around every pass so a reader can tell
    * which pass the host was busy in. */
  def loadNow(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head
    catch { case _: Throwable => "na" }

  /** Ticks/sec from the kernel, not a hardcoded 100: on a non-100Hz
    * USER_HZ kernel the cores estimate would be off by the ratio. */
  lazy val clkTck: Double =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      p.waitFor()
      val v = out.toDouble
      if (v > 0) v else 100.0
    } catch { case _: Throwable => 100.0 }

  /** EXTERNAL contention: busy jiffies across all CPUs minus this JVM's
    * own over a ~1 s window, i.e. cores busy with OTHER work right now.
    * loadavg cannot make that split: its 1-min EMA still carries our own
    * just-finished pass. −1 = unreadable. */
  def externalLoad(windowMs: Long = 1000L): Double =
    try {
      def snap(): (Long, Long) = {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+").drop(1).map(_.toLong)
        // busy = user+nice+system+irq+softirq. Excluded: idle(3),
        // iowait(4), steal(7) — hypervisor time, not co-tenant load — and
        // guest/guest_nice(8,9), which Linux already folds into user.
        val busy = cpu.take(3).sum +
          (if (cpu.length > 6) cpu(5) + cpu(6) else 0L)
        val self = scala.io.Source.fromFile("/proc/self/stat").mkString
        val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
        (busy, rest(11).toLong + rest(12).toLong) // utime + stime
      }
      val (b0, s0) = snap(); Thread.sleep(windowMs)
      val (b1, s1) = snap()
      // jiffies × (1000/CLK_TCK) ms-per-jiffy / windowMs = cores
      math.max(0.0, ((b1 - b0) - (s1 - s0)) * (1000.0 / clkTck) / windowMs)
    } catch { case _: Throwable => -1.0 }

  /** GC breather before a timed pass: the previous pass's (and the
    * canary's) collection debt must not bleed into this pass's minima. */
  def breather(): Unit = { System.gc(); Thread.sleep(1500) }

  /** Drift-canary samples of one run ([[Canary]]): `perSite` samples per
    * [[site]] call; a failed sample is dropped and counted, never stamped
    * as a sentinel; trust is judged by [[Canary.trusted]]. */
  final class CanaryLog(probe: () => Double, perSite: Int, tag: String) {
    val samples: ArrayBuffer[Double] = ArrayBuffer()
    var errors = 0
    def site(): Unit = (1 to perSite).foreach { _ =>
      try samples += probe()
      catch { case e: Throwable =>
        errors += 1
        System.err.println(s"[$tag] canary failed: ${e.getMessage}")
      }
    }
    def trusted: Boolean = Canary.trusted(samples.toSeq)
    def json: String = jarr(samples.map(f2))
    def minJson: String = if (samples.isEmpty) "-1" else f2(samples.min)
    /** canary_s, canary_min, canary_trusted, canary_errors, in that order. */
    def fields: Seq[(String, Any)] = Seq("canary_s" -> json,
      "canary_min" -> minJson, "canary_trusted" -> trusted,
      "canary_errors" -> errors)
  }

  /** One registered query through the noop sink → seconds, None on
    * failure. noop, not count(): count() lets Catalyst prune every unused
    * column, erasing the very work a projection query exists to do.
    *
    * `cleanup` drops the finished query's cached and localCheckpoint blocks
    * after the timed region: at sf10 one pair-graph query leaves GBs of
    * storage blocks behind and squeezes later queries' execution memory.
    * Removal is blocking so it cannot bleed into the next query's window,
    * and a cleanup failure never replaces the query's recorded result. */
  def timer(spark: SparkSession, dir: String, tag: String,
      cleanup: Boolean): String => Option[Double] = {
    val fns = graft.SparkEntry.queries
    name => try {
      val t0 = System.nanoTime()
      fns(name)(spark, dir).write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      None
    } finally if (cleanup) {
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] cleanup after $name failed " +
          s"(continuing): ${e.getMessage}")
      }
    }
  }

  /** What one protocol run measured. `warm` is the per-query minimum over
    * the warm passes; a query absent from every pass is an error. */
  final case class Measured(
      names: Seq[String],
      cold: Map[String, Double],
      passes: Seq[Map[String, Double]],
      preExt: Seq[Double],
      loud: Int,
      passLoads: Seq[String]) {
    private def samples(n: String): Seq[Double] = passes.flatMap(_.get(n))
    lazy val warm: Map[String, Double] = names.flatMap { n =>
      val ss = samples(n); if (ss.isEmpty) None else Some(n -> ss.min)
    }.toMap
    /** max − min over the warm passes: a query whose min moved within its
      * spread moved by contention, not code. */
    lazy val spread: Map[String, Double] = names.flatMap { n =>
      val ss = samples(n); if (ss.isEmpty) None else Some(n -> (ss.max - ss.min))
    }.toMap
    def errors: Seq[String] = names.filterNot(warm.contains)
    def passTotals: Seq[Double] = passes.map(_.values.sum)
    def errorsJson: String = jarr(errors.map(quote))
    def passTotalsJson: String = jarr(passTotals.map(f2))
    def passLoadsJson: String = jarr(passLoads.map(quote))
  }

  /** The cold + warm-pass protocol over injected side effects, so it runs
    * under fakes in tests. Each warm pass: canary site, breather, external
    * load sample, then every query in a seed-fixed shuffle
    * (`1000003L * pass`). A pass whose external load is above `loadBar`, or
    * unmeasurable (< 0 is not evidence of a quiet host), still feeds the
    * per-query min but does not count toward the quota. */
  final class Protocol(canary: CanaryLog, loadBar: Double, tag: String,
      externalLoad: () => Double = () => BenchCore.externalLoad(),
      loadNow: () => String = () => BenchCore.loadNow(),
      breather: () => Unit = () => BenchCore.breather()) {
    /** loadavg after [pre, cold, each warm pass]. */
    val passLoads: ArrayBuffer[String] = ArrayBuffer()

    /** Opening canary and breather, then one untimed-order cold pass: it
      * pays codegen and JIT, so a compile-time regression stays visible. */
    def cold(names: Seq[String],
        time: String => Option[Double]): Map[String, Double] = {
      canary.site(); breather()
      passLoads += loadNow()
      val c = names.flatMap(n => time(n).map(n -> _)).toMap
      passLoads += loadNow()
      c
    }

    /** Warm passes until `quota` quiet ones exist or `cap` passes ran;
      * after the first, another starts only if `afford(best pass total)`.
      * The bracket stays open for extra [[Warm.pass]] calls until
      * [[Warm.close]]. */
    def warm(names: Seq[String], time: String => Option[Double], quota: Int,
        cap: Int, afford: Double => Boolean = _ => true): Warm = {
      val w = new Warm(names, time)
      while (w.passes.size < cap && w.quiet < quota &&
          (w.passes.isEmpty || afford(w.passTotals.min)))
        w.pass()
      w
    }

    /** Cold pass, warm passes, closing canary. */
    def run(names: Seq[String], time: String => Option[Double], quota: Int,
        cap: Int, afford: Double => Boolean = _ => true): Measured = {
      val c = cold(names, time)
      val w = warm(names.filter(c.contains), time, quota, cap, afford)
      w.close()
      w.measured(names, c)
    }

    final class Warm private[Protocol] (names: Seq[String],
        time: String => Option[Double]) {
      val passes: ArrayBuffer[Map[String, Double]] = ArrayBuffer()
      val preExt: ArrayBuffer[Double] = ArrayBuffer()
      var quiet = 0
      def passTotals: Seq[Double] = passes.toSeq.map(_.values.sum)
      def minTotal: Double = measured(names, Map.empty).warm.values.sum

      def pass(): Unit = {
        val n = passes.size + 1
        // Canary first: it is allocation-heavy fixed work, so the timed
        // pass must start from the post-GC state, not its garbage.
        canary.site()
        breather()
        val ext = externalLoad()
        preExt += ext
        if (ext < 0)
          System.err.println(s"[$tag] warm pass $n: external load " +
            "unmeasurable — pass counted as not-quiet")
        else if (ext > loadBar)
          System.err.println(f"[$tag] warm pass $n: $ext%.1f external " +
            f"cores > bar $loadBar%.1f — kept for the min, replacement queued")
        else quiet += 1
        passes += new scala.util.Random(1000003L * n).shuffle(names)
          .flatMap(q => time(q).map(q -> _)).toMap
        passLoads += loadNow()
      }

      /** Closing canary: each pass's site runs before it, so without this
        * drift during the final pass would go uncaught. */
      def close(): Unit = canary.site()

      def measured(all: Seq[String], cold: Map[String, Double]): Measured =
        Measured(all, cold, passes.toSeq, preExt.toSeq,
          passes.size - quiet, passLoads.toSeq)
    }
  }

  def readJson(path: String): JsonNode =
    new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))

  /** The per-query map under `key` of a committed JSON artifact. */
  def readQueryMap(root: JsonNode, key: String): Map[String, Double] = {
    val m = root.get(key)
    require(m != null && m.isObject, s"no $key object")
    m.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  def f2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)

  def jarr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def quote(s: String): String = "\"" + s + "\""

  /** Per-query map, keys sorted. */
  def jmap[A](m: Map[String, A], fmt: A => String = (a: A) => a.toString)
      : String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> fmt(v) })

  /** JSON object, keys in the given order; each value is already-rendered
    * JSON or a number/boolean. `pretty` puts one top-level key per line. */
  def obj(fields: Seq[(String, Any)], pretty: Boolean = false): String =
    if (pretty)
      fields.map { case (k, v) => s"""  "$k": $v""" }.mkString("{\n", ",\n", "\n}")
    else fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}
