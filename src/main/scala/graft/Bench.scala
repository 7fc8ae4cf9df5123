package graft

import java.nio.file.{Files, Paths}

import graft.harness.{BenchCore, Canary}
import graft.harness.BenchCore._

/** Benchmark harness: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A failing query is
  * recorded as "err" and excluded from the total, so the headline number
  * only ever sums successful runs.
  *
  * Protocol ([[BenchCore.Protocol]]): a cold pass, then seed-shuffled warm
  * passes until three start on a quiet host (at most five), each query's
  * warm time the minimum over the passes. A load spike then dents at most
  * one sample of each query, and order shuffling keeps it from always
  * taxing the same neighbors. Bench adds a pre-headline settle wait and a
  * stability top-up. The drift canary ([[graft.harness.Canary]]) brackets
  * every pass and is stamped as `canary_s`/`canary_min` on the headline;
  * with the committed quiet-host basis (BASELINE §drift-canary) that
  * separates box drift from code regressions by arithmetic.
  */
object Bench {
  private val WarmPasses = 3
  private val MaxPasses = 5
  private val Sf1Dir = "target/testdata/sf1.0"

  /** Everything the two artifacts are rendered from. */
  final case class Report(
      m: Measured,
      canary: Seq[(String, Any)],
      sf1: Map[String, Double],
      sf1Total: Double,
      sf1Full: Boolean,
      sf1Budgeted: Boolean,
      settleS: Double,
      outputRows: Map[String, Long],
      prevWarm: Map[String, Double],
      loadBar: Double,
      budgetS: Double,
      sfDir: String)

  def main(args: Array[String]): Unit = {
    // The budget gates every OPTIONAL section: before starting one, the
    // remainder must cover its estimated cost, otherwise it is skipped with
    // a visible flag instead of the whole artifact dying unparsed at the
    // caller's timeout. The sf0.1 suite itself is never skipped.
    val budget = new Budget(2400.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus, shufflePartitions(sfDir, cpus))
    warmup(spark, sfDir, "bench")
    val fns = SparkEntry.queries
    // GRAFT_BENCH_FILTER: name regex for fast local smoke runs of the
    // harness itself (budget gating, JSON shape).
    val nameFilter = sys.env.get("GRAFT_BENCH_FILTER").map(_.r)
    val names = fns.keys.toSeq
      .filter(n => nameFilter.forall(_.findFirstIn(n).isDefined))
    val bar = loadBar(cpus)

    // Pre-headline settle: when invoked right after heavier work, the host
    // is still draining it (writeback, scheduler) with external load ~0.
    // Wait until the 1-min loadavg decays under half the core count (and
    // external load stays under the bar), bounded by GRAFT_BENCH_SETTLE_S;
    // the wait is stamped.
    val settleBudgetS = sys.env.get("GRAFT_BENCH_SETTLE_S").map(_.toDouble)
      .getOrElse(120.0)
    val settleStart = System.nanoTime()
    def settledS(): Double = (System.nanoTime() - settleStart) / 1e9
    while (settledS() < settleBudgetS && {
        val la = try loadNow().toDouble catch { case _: Throwable => 0.0 }
        val ext = externalLoad() // samples ~1 s by itself
        la > cpus.toDouble / 2.0 || (ext >= 0 && ext > bar)
      }) Thread.sleep(2000)
    val settleS = settledS()
    if (settleS > 5)
      System.err.println(f"[bench] settled $settleS%.0f s before cold pass")

    val canary = new CanaryLog(() => Canary.run(spark), 2, "bench")
    val protocol = new Protocol(canary, bar, "bench")
    // Stability top-up: if the BEST single pass still sums >8% above the
    // per-query min total, the minima have not converged; sample up to 2
    // more passes while the budget covers them.
    def warmPasses(qnames: Seq[String],
        time: String => Option[Double]): protocol.Warm = {
      val w = protocol.warm(qnames, time, WarmPasses, MaxPasses)
      var topUps = 0
      while (topUps < 2 && w.minTotal > 0 &&
          w.passTotals.min / w.minTotal > 1.08 &&
          budget.remainingS() > w.passTotals.min * 1.5) {
        w.pass()
        topUps += 1
      }
      w.close()
      w
    }
    val time = timer(spark, sfDir, "bench", cleanup = false)
    val cold = protocol.cold(names, time)
    val m = warmPasses(names.filter(cold.contains), time).measured(names, cold)

    // sf1.0 section: queries timed at 10× bench scale on the deterministic
    // ScaleUp amplification of sfDir (BASELINE.md §sf1.0), regenerated
    // in-process when absent, so a superlinear stage that hides at sf0.1
    // shows up as a per-query ratio. By default the 12-query cross-family
    // subset (cold + min-of-2); GRAFT_SF1_FULL=1 times the whole registry
    // with the full protocol (~55 min); GRAFT_SF1_HEADLINE=0 disables it.
    val sf1Names = Seq(
      "agg_sensor_stats", "join_revenue_nation", "window_moving_stats",
      "sessionize", "cdc_apply", "dedup_minhash_lsh", "dedup_clusters",
      "decontaminate_bloom", "sim_ivf_topk", "corpus_curate",
      "olap_cube_events", "text_quality_report").filter(fns.contains)
    val sf1Full = sys.env.getOrElse("GRAFT_SF1_FULL", "0") != "0"
    // Estimated costs from the committed bases: the subset ≈ fixture
    // regen + cold + 2 warm ≈ 400 s; the full registry ≈ 3200 s.
    val sf1CostS = if (sf1Full) 3200.0 else 400.0
    val sf1Budgeted = budget.remainingS() > sf1CostS
    if (!sf1Budgeted)
      System.err.println(f"[bench] sf1.0 section skipped: " +
        f"${budget.remainingS()}%.0f s left of ${budget.budgetS}%.0f s " +
        f"budget < $sf1CostS%.0f s estimate")
    val sf1: Map[String, Double] =
      if (sys.env.getOrElse("GRAFT_SF1_HEADLINE", "1") == "0" || !sf1Budgeted)
        Map.empty
      else try {
        if (!Files.exists(Paths.get(s"$Sf1Dir/lineitem.parquet")))
          graft.tools.ScaleUp.run(spark, sfDir, Sf1Dir)
        val time1 = timer(spark, Sf1Dir, "bench", cleanup = false)
        if (sf1Full) {
          val cold1 = names.filter(m.cold.contains).filter(time1(_).isDefined)
          warmPasses(cold1, time1).measured(cold1, Map.empty).warm
        } else {
          sf1Names.foreach(time1) // cold: codegen + page-cache
          val ws = (1 to 2).map(_ =>
            sf1Names.flatMap(n => time1(n).map(n -> _)).toMap)
          Measured(sf1Names, Map.empty, ws, Nil, 0, Nil).warm
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1.0 section skipped: ${e.getMessage}")
        Map.empty
      }

    // Output rows for the output-bound queries: the two pHash queries
    // answer a pair graph quadratic in the fixture's duplicate-group size,
    // so their wall ratio across decades is fixture geometry. One count per
    // query, after timing, so counts never pollute the warm minima.
    val outputRows: Map[String, Long] = sys.env.get("GRAFT_BENCH_OUTPUT_ROWS")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("mm_phash_pairs", "mm_phash_clusters"))
      .filter(m.warm.contains)
      .flatMap { n =>
        try Some(n -> fns(n)(spark, sfDir).count())
        catch { case _: Throwable => None }
      }.toMap
    // The previous BENCH_DETAIL.json, read BEFORE overwriting it, for the
    // per-query `warm_delta_vs_prev`.
    val prevWarm: Map[String, Double] =
      try readQueryMap(readJson("BENCH_DETAIL.json"), "warm_queries")
      catch { case _: Throwable => Map.empty }

    val r = Report(m, canary.fields, sf1, sf1Names.flatMap(sf1.get).sum,
      sf1Full, sf1Budgeted, settleS, outputRows, prevWarm, bar,
      budget.budgetS, sfDir)
    try Files.write(Paths.get("BENCH_DETAIL.json"), detail(r).getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write skipped: ${e.getMessage}")
    }
    println(headline(r, budget.elapsedS(), loadNow()))
    spark.stop()
  }

  /** BENCH_DETAIL.json: the full unrounded min/per-pass/cold detail. */
  def detail(r: Report): String = {
    val m = r.m
    val outputRps = r.outputRows.flatMap { case (n, rows) =>
      m.warm.get(n).filter(_ > 0).map(w => n -> rows / w)
    }
    val delta = m.warm.flatMap { case (n, v) =>
      r.prevWarm.get(n).map(p => n -> (v - p))
    }
    obj(Seq("warm_total" -> m.warm.values.sum, "cold_total" -> m.cold.values.sum,
      "warm_queries" -> jmap(m.warm), "cold_queries" -> jmap(m.cold),
      "warm_spread" -> jmap(m.spread), "warm_delta_vs_prev" -> jmap(delta),
      "warm_prev_present" -> r.prevWarm.nonEmpty, "sf1_queries" -> jmap(r.sf1),
      "sf1_total" -> r.sf1Total, "sf1_full" -> r.sf1Full,
      "sf1_full_total" -> r.sf1.values.sum, "sf1_budgeted" -> r.sf1Budgeted,
      "budget_s" -> r.budgetS, "settle_s" -> f2(r.settleS)) ++ r.canary ++
      Seq("output_rows" -> jmap(r.outputRows),
        "output_rows_per_sec" -> jmap(outputRps), "streaming" -> "{}") ++
      m.passes.zipWithIndex.map { case (s, i) => s"warm_pass_${i + 1}" -> jmap(s) } ++
      Seq("pass_loads" -> m.passLoadsJson, "pass_loads_kind" ->
        quote(s"loadavg1_after_[pre,cold,warm1..${m.passes.size}]"),
        "pre_ext_loads" -> jarr(m.preExt.map(l => if (l < 0) "-1" else f2(l))),
        "load_bar" -> f2(r.loadBar), "loud_passes" -> m.loud,
        "errors" -> m.errors.size, "sf" -> quote(r.sfDir)))
  }

  /** The headline line. Its consumer keeps only the LAST ~2000 chars of
    * the run's output, so the per-query map carries only every failed
    * query ("err") and the TOP-10 slowest warm times; BENCH_DETAIL.json
    * has the rest. */
  def headline(r: Report, wallS: Double, loadHint: String): String = {
    val m = r.m
    val total = m.warm.values.sum
    val qs = obj(m.errors.map(_ -> quote("err")) ++
      m.warm.toSeq.sortBy(-_._2).take(10).map { case (k, s) => k -> f2(s) })
    // Contention self-diagnosis: on a quiet host the BEST warm pass sums
    // to ~1.6-1.7× the per-query min total (per-query jitter alone); past
    // 2.0 the artifact flags itself `contended` (BASELINE §bench-contention).
    val passRatio = if (total > 0) m.passTotals.min / total else 1.0
    // The sf as its bare numeric suffix ("0.1") when the dir is sf-suffixed.
    val sfShort = "sf([0-9.]+)/?$".r.findFirstMatchIn(r.sfDir)
      .map(_.group(1)).getOrElse(r.sfDir)
    obj(Seq("metric" -> quote("total"), "value" -> f2(total),
      "unit" -> quote("sec"), "queries" -> qs,
      "queries_kind" -> quote(s"slowest10_min_of_${m.passes.size}"),
      "warm_pass_totals" -> m.passTotalsJson, "pass_loads" -> m.passLoadsJson,
      "pre_ext_loads" ->
        jarr(m.preExt.map(l => if (l < 0) quote("na") else quote(f2(l)))),
      "load_bar" -> f2(r.loadBar), "loud_passes" -> m.loud,
      "pass_min_ratio" -> f2(passRatio), "contended" -> (passRatio > 2.0)) ++
      r.canary ++
      Seq("n" -> m.names.size, "cold_total" -> f2(m.cold.values.sum),
        "errors" -> m.errors.size, "sf1_total" -> f2(r.sf1Total),
        "sf1_full" -> r.sf1Full, "sf1_full_total" -> f2(r.sf1.values.sum),
        "sf1_budgeted" -> r.sf1Budgeted, "sf1_n" -> r.sf1.size,
        "settle_s" -> f2(r.settleS), "streaming_rps" -> "{}",
        "wall_s" -> f2(wallS), "budget_s" -> f2(r.budgetS),
        "load_hint" -> quote(loadHint), "detail" -> quote("BENCH_DETAIL.json"),
        "sf" -> quote(sfShort)))
  }
}
