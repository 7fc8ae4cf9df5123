package graft.tools

import java.nio.file.{Files, Paths}

import graft.harness.Canary
import graft.harness.BenchCore._

/** Second-decade (sf10) bench card.
  *
  * Runs the Bench protocol (cold pass + min-of-3 seed-shuffled warm
  * passes with external-load defense, per-query cleanup) over the 25
  * queries that are oracle-adjudicated at sf10 (BASELINE.md §"sf10
  * adjudication posture"), against the decade-scaled fixture, and commits
  * two artifacts:
  *
  *   - `BENCH_SF10_BASIS.json` — one JSON line, same shape discipline as
  *     the graded headline: totals, per-pass loads, and the FULL 25-query
  *     warm map.
  *   - `BENCH_SF10_DETAIL.json` — per-query cold / warm-min / spread,
  *     the committed sf1.0 basis time (read from `BENCH_SF1_DETAIL.json`
  *     `sf1_queries`), the sf1→sf10 wall ratio, and output rows where
  *     the ratio needs them to be self-documenting (the dedup pair
  *     generators emit ~108× the pairs per decade — their wall ratio is
  *     output growth, not plan decay).
  *
  * Usage: `SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.BenchSf10"`.
  * 48g is basis-run headroom, not a floor — BASELINE.md §sf10 records the
  * worst query (`corpus_curate`) clean at 16g. Shuffle partitions
  * auto-raise to 128 at the decade fixture exactly as Bench/Verify do.
  *
  * Protocol (BASELINE §sf10-bench-protocol): warm passes run until three
  * quiet ones exist (at most five) or the budget stops covering another —
  * **min-of-2 is the declared sf10 protocol**; the 9000 s default budget
  * covers cold + 2 warm at the committed card's pace, so a bare `runMain`
  * reproduces the committed card's shape.
  */
object BenchSf10 {
  private val WarmPasses = 3
  private val MaxPasses = 5

  /** The sf10-adjudicated registry subset (BASELINE.md posture table). */
  val Sf10Adjudicated: Seq[String] = Seq(
    "dedup_setsim_exact", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_clusters_bigstar", "dedup_pagerank", "dedup_pagerank_keepers",
    "dedup_containment", "corpus_curate", "sim_neardup_clusters",
    "text_quality_report", "cdc_apply", "cdc_compact_gc", "scd2_history",
    "scd2_asof_probe", "ts_resample_ffill", "ts_resample_interp",
    "agg_sensor_stats", "join_revenue_nation", "olap_cube_events",
    "window_moving_stats", "asof_purchase_view", "range_session_purchases",
    "sessionize", "funnel_conversion", "decontaminate_setsim")

  /** Output-quadratic-per-decade queries: stamp output rows so the big
    * wall ratio reads as output growth. */
  val OutputBound: Set[String] =
    Set("dedup_setsim_exact", "dedup_minhash_lsh")

  /** Everything the two artifacts are rendered from. */
  final case class Report(
      m: Measured,
      canary: Seq[(String, Any)],
      sf1: Map[String, Double],
      outputRows: Map[String, Long],
      sfDir: String,
      shuffleParts: String,
      cpus: String,
      driverMem: String,
      wallS: Double,
      budgetS: Double)

  def main(args: Array[String]): Unit = {
    val budget = new Budget(9000.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR",
      "target/testdata/sf10")
    require(Files.exists(Paths.get(s"$sfDir/lineitem.parquet")),
      s"sf10 fixture missing at $sfDir — run " +
        "`runMain graft.tools.ScaleUp target/testdata/sf1.0 " +
        s"$sfDir 10` first (from an sf1.0 fixture)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shuffleParts = shufflePartitions(sfDir, cpus)
    val spark = session(cpus, shuffleParts)
    warmup(spark, sfDir, "bench-sf10")

    val fns = graft.SparkEntry.queries
    val names = Sf10Adjudicated.filter { n =>
      val ok = fns.contains(n)
      if (!ok) System.err.println(s"[bench-sf10] $n not in registry")
      ok
    }
    val canary = new CanaryLog(() => Canary.run(spark), 2, "bench-sf10")
    val m = new Protocol(canary, loadBar(cpus), "bench-sf10").run(names,
      timer(spark, sfDir, "bench-sf10", cleanup = true), WarmPasses,
      MaxPasses, afford = best => budget.remainingS() > best * 1.2)

    // Output rows for the output-bound pair generators (budget-gated:
    // each is one extra execution of an already-timed plan).
    val outputRows: Map[String, Long] = OutputBound.toSeq.sorted.flatMap {
      n =>
        if (!m.warm.contains(n)) None
        else if (budget.remainingS() < m.warm(n) * 3) {
          System.err.println(s"[bench-sf10] output-rows($n) skipped: " +
            f"${budget.remainingS()}%.0f s left")
          None
        } else try Some(n -> fns(n)(spark, sfDir).count())
        catch { case _: Throwable => None }
    }.toMap

    // sf1.0 per-query basis for the decade-ratio column.
    val sf1: Map[String, Double] =
      try readQueryMap(readJson("BENCH_SF1_DETAIL.json"), "sf1_queries")
      catch { case e: Throwable =>
        System.err.println(s"[bench-sf10] sf1 basis unreadable: $e")
        Map.empty
      }

    val r = Report(m, canary.fields, sf1, outputRows, sfDir, shuffleParts,
      cpus, sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"), budget.elapsedS(),
      budget.budgetS)
    val line = basis(r)
    Files.write(Paths.get("BENCH_SF10_BASIS.json"),
      (line + "\n").getBytes("UTF-8"))
    Files.write(Paths.get("BENCH_SF10_DETAIL.json"),
      (detail(r) + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }

  /** BENCH_SF10_BASIS.json: the one-line card. */
  def basis(r: Report): String = {
    val m = r.m
    val total = m.warm.values.sum
    val sf1Total = m.names.flatMap(r.sf1.get).sum
    obj(Seq("metric" -> quote("sf10_total"), "value" -> f2(total),
      "unit" -> quote("sec"), "queries" -> jmap(m.warm, f2),
      // Derived, not hardcoded: an errored query shrinks the label.
      "queries_kind" -> quote(s"all${m.warm.size}_min_of_${m.passes.size}"),
      "warm_pass_totals" -> m.passTotalsJson, "pass_loads" -> m.passLoadsJson,
      "pre_ext_loads" -> jarr(m.preExt.map(f2)), "loud_passes" -> m.loud,
      "load_unmeasured" -> m.preExt.exists(_ < 0)) ++ r.canary ++
      Seq("n" -> m.names.size, "errors" -> m.errorsJson,
        "cold_total" -> f2(m.cold.values.sum), "sf1_total_25" -> f2(sf1Total),
        "ratio_total" -> f2(if (sf1Total > 0) total / sf1Total else -1),
        "shuffle_partitions" -> r.shuffleParts, "cpus" -> r.cpus,
        "driver_mem" -> quote(r.driverMem), "wall_s" -> f2(r.wallS),
        "budget_s" -> f2(r.budgetS),
        "detail" -> quote("BENCH_SF10_DETAIL.json"), "sf" -> quote("10")))
  }

  /** BENCH_SF10_DETAIL.json: per-query cold / warm-min / spread + ratios. */
  def detail(r: Report): String = {
    val m = r.m
    val ratios = m.warm.flatMap { case (n, w) =>
      r.sf1.get(n).filter(_ > 0).map(b => n -> w / b)
    }
    obj(Seq("kind" -> quote("bench_sf10"),
      "protocol" -> quote(s"cold + min-of-${m.passes.size} seed-shuffled " +
        "warm passes, noop sink, load defense as Bench"),
      "fixture" -> quote(s"${r.sfDir} (ScaleUp sf1.0 x10, kScale=10)"),
      "warm_total" -> f2(m.warm.values.sum), "cold_total" -> f2(m.cold.values.sum),
      "warm_queries" -> jmap(m.warm), "cold_queries" -> jmap(m.cold),
      "warm_spread" -> jmap(m.spread),
      "sf1_queries" -> jmap(r.sf1.filter(kv => m.warm.contains(kv._1))),
      "sf1_to_sf10_ratio" -> jmap(ratios, f2),
      "output_rows" -> jmap(r.outputRows),
      "output_bound_by_design" -> jarr(OutputBound.toSeq.sorted.map(quote)),
      "errors" -> m.errorsJson, "pass_loads" -> m.passLoadsJson,
      "pre_ext_loads" -> jarr(m.preExt.map(f2)),
      "load_unmeasured" -> m.preExt.exists(_ < 0)) ++ r.canary ++
      Seq("warm_pass_totals" -> m.passTotalsJson,
        "shuffle_partitions" -> r.shuffleParts, "cpus" -> r.cpus,
        "driver_mem" -> quote(r.driverMem), "wall_s" -> f2(r.wallS)),
      pretty = true)
  }
}
