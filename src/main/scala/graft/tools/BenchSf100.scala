package graft.tools

import java.nio.file.{Files, Paths}

import graft.harness.Canary
import graft.harness.BenchCore._

/** Third-decade (sf100) probe for the LINEAR-input families: "linear
  * families cost 6–8× per decade" had two decades of evidence
  * (sf0.1→sf1.0→sf10); a third makes it a law.
  *
  * Runs ONLY the families whose input AND output grow linearly with
  * the fixture (sessionize, as-of join, both resamples, moving-window
  * stats, CDC apply/compact, the reference 4-min aggregate) — the
  * pair-graph families are output-quadratic by fixture design
  * (BASELINE §sf10) and adjudicating them at 100× is output growth,
  * not plan evidence. Protocol as `BenchSf10` but min-of-2: cold pass,
  * warm passes until two are quiet (at most four) or the budget stops
  * covering another, per-query cleanup, drift canary. The per-decade
  * ratio column reads the committed sf10 card (`BENCH_SF10_DETAIL.json`
  * `warm_queries`).
  *
  * Fixture: `target/testdata/sf100` — `ScaleUp` amplification of the
  * sf10 fixture with `kScale = 100` (key shifts clear the sf10 maxima),
  * generated in-process when absent (~16 GB; needs the sf10 fixture on
  * disk first). NOTE: the kScale=100 doc_id shifts exceed the
  * +1 000 000 id offset the incremental-dedup queries assume, so this
  * fixture is ONLY valid for the linear families probed here — never
  * point Verify's dedup families at it.
  *
  * Usage: `SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.BenchSf100"`.
  * Writes `BENCH_SF100.json` (single artifact: this is an 8-query
  * probe, basis and detail fit one file).
  */
object BenchSf100 {
  private val WarmPasses = 2
  private val MaxPasses = 4

  /** Linear-input families. */
  val LinearFamilies: Seq[String] = Seq(
    "sessionize", "asof_purchase_view", "ts_resample_ffill",
    "ts_resample_interp", "window_moving_stats", "cdc_apply",
    "cdc_compact_gc", "agg_sensor_stats")

  /** Everything the card is rendered from. */
  final case class Report(
      m: Measured,
      canary: Seq[(String, Any)],
      sf10: Map[String, Double],
      sf10Shuffle: String,
      loadBar: Double,
      sfDir: String,
      shuffleParts: String,
      cpus: String,
      driverMem: String,
      wallS: Double,
      budgetS: Double)

  def main(args: Array[String]): Unit = {
    val budget = new Budget(7200.0)
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
      "target/testdata/sf10")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF100_DIR",
      "target/testdata/sf100")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // Third-decade shuffle sizing: at sf100 the 128-partition sf10
    // protocol puts ~10M wide rows in one task's sort; 256 keeps task
    // inputs at the sf10 card's per-task size.
    val shuffleParts = sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "256")
    val spark = session(cpus, shuffleParts)

    if (!Files.exists(Paths.get(s"$sfDir/lineitem.parquet"))) {
      require(Files.exists(Paths.get(s"$sf10Dir/lineitem.parquet")),
        s"sf10 fixture missing at $sf10Dir — generate it first " +
          "(runMain graft.tools.ScaleUp target/testdata/sf1.0 " +
          s"$sf10Dir 10)")
      System.err.println(s"[bench-sf100] generating $sfDir from $sf10Dir")
      ScaleUp.run(spark, sf10Dir, sfDir, kScale = 100L)
    }

    val fns = graft.SparkEntry.queries
    // GRAFT_SF100_FAMILIES: comma-separated subset for targeted re-runs.
    // Unknown names are an error — a typo must not silently produce an
    // empty probe.
    val famFilter: Option[Set[String]] = sys.env.get("GRAFT_SF100_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    famFilter.foreach { f =>
      val unknown = f -- LinearFamilies.toSet
      require(unknown.isEmpty,
        s"GRAFT_SF100_FAMILIES not in LinearFamilies: ${unknown.mkString(",")}")
    }
    val names = LinearFamilies.filter { n =>
      val ok = fns.contains(n)
      if (!ok) System.err.println(s"[bench-sf100] $n not in registry")
      ok && famFilter.forall(_.contains(n))
    }
    // Targeted re-runs write their own artifact: the committed full-probe
    // card must not be clobbered by a two-family partition sweep.
    val outPath = sys.env.getOrElse("GRAFT_SF100_OUT", "BENCH_SF100.json")

    val canary = new CanaryLog(() => Canary.run(spark), 2, "bench-sf100")
    val bar = loadBar(cpus)
    val m = new Protocol(canary, bar, "bench-sf100").run(names,
      timer(spark, sfDir, "bench-sf100", cleanup = true), WarmPasses,
      MaxPasses, afford = best => budget.remainingS() > best * 1.2)

    // sf10 per-query basis for the per-decade ratio column. Families absent
    // from the basis are warned loudly, never silently dropped.
    val (sf10, sf10Shuffle): (Map[String, Double], String) = try {
      val root = readJson("BENCH_SF10_DETAIL.json")
      val q = readQueryMap(root, "warm_queries")
      val missing = LinearFamilies.filterNot(q.contains)
      if (missing.nonEmpty)
        System.err.println("[bench-sf100] sf10 basis missing families " +
          s"(their ratio rows will be absent): ${missing.mkString(",")}")
      (q, Option(root.get("shuffle_partitions")).map(_.asText())
        .getOrElse("unknown"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench-sf100] sf10 basis unreadable: $e")
      (Map.empty[String, Double], "unknown")
    }

    val json = card(Report(m, canary.fields, sf10, sf10Shuffle, bar, sfDir,
      shuffleParts, cpus, sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"),
      budget.elapsedS(), budget.budgetS))
    Files.write(Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }

  def card(r: Report): String = {
    val m = r.m
    val ratios = m.warm.flatMap { case (n, w) =>
      r.sf10.get(n).filter(_ > 0).map(b => n -> w / b)
    }
    obj(Seq("kind" -> quote("bench_sf100"),
      "protocol" -> quote(s"cold + min-of-${m.passes.size} seed-shuffled " +
        "warm passes, noop sink, per-query cleanup, load defense as BenchSf10"),
      "fixture" -> quote(
        s"${r.sfDir} (ScaleUp sf10 x10, kScale=100; linear families ONLY)"),
      "families" -> quote("linear-input"),
      "warm_total" -> f2(m.warm.values.sum), "cold_total" -> f2(m.cold.values.sum),
      "warm_queries" -> jmap(m.warm), "cold_queries" -> jmap(m.cold),
      "sf10_queries" -> jmap(r.sf10.filter(kv => m.warm.contains(kv._1))),
      "sf10_to_sf100_ratio" -> jmap(ratios, f2),
      "ratio_note" -> quote("denominator = committed BENCH_SF10_DETAIL.json " +
        s"warm_queries (shuffle_partitions ${r.sf10Shuffle}, adjudicated " +
        "+25.6% box-smeared in BASELINE §sf10) vs this run's shuffle " +
        s"${r.shuffleParts} — cross-run, cross-config ratios carry regime + " +
        "config noise the canary cannot remove"),
      "errors" -> m.errorsJson, "pass_loads" -> m.passLoadsJson,
      "pre_ext_loads" -> jarr(m.preExt.map(f2)), "load_bar" -> f2(r.loadBar),
      "loud_passes" -> m.loud) ++ r.canary ++
      Seq("shuffle_partitions" -> r.shuffleParts, "cpus" -> r.cpus,
        "driver_mem" -> quote(r.driverMem), "wall_s" -> f2(r.wallS),
        "budget_s" -> f2(r.budgetS)), pretty = true)
  }
}
