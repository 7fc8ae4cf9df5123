package graft.harness

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.BenchCore._

/** The bench pass protocol under fakes (no Spark session): the timer, the
  * external-load sampler and the canary are functions, so every branch of
  * the load defense is driven by a scripted sequence. */
class BenchCoreSpec extends AnyFunSuite {

  /** A scripted host. Pass 0 is the cold pass; each warm pass samples the
    * external load once before its timings, which advances the pass. */
  private final class Rig(loads: Iterator[Double],
      timing: (Int, String) => Option[Double] = (p, _) => Some(1.0 + p)) {
    val events: ArrayBuffer[String] = ArrayBuffer()
    var pass = 0
    val canary = new CanaryLog(() => { events += "canary"; 1.0 }, 2, "spec")
    val protocol = new Protocol(canary, loadBar = 1.0, "spec",
      externalLoad = () => { pass += 1; loads.next() },
      loadNow = () => "0.5", breather = () => ())
    val time: String => Option[Double] = q => {
      events += s"time:$pass:$q"
      timing(pass, q)
    }
    def run(names: Seq[String], quota: Int = 3, cap: Int = 5,
        afford: Double => Boolean = _ => true): Measured =
      protocol.run(names, time, quota, cap, afford)
  }

  private val quiet = Iterator.continually(0.0)
  private val abc = Seq("a", "b", "c")

  test("all passes quiet: exactly the quota of warm passes") {
    val m = new Rig(quiet).run(abc)
    assert(m.passes.size === 3)
    assert(m.loud === 0)
    assert(m.preExt === Seq(0.0, 0.0, 0.0))
    assert(m.passLoads.size === 2 + 3) // pre, cold, each warm pass
    assert(m.warm === abc.map(_ -> 2.0).toMap)
    assert(m.spread === abc.map(_ -> 2.0).toMap)
    assert(new Rig(quiet).run(abc, quota = 2, cap = 4).passes.size === 2)
  }

  test("a pass above the load bar is kept for the min and replaced") {
    // Pass 1 is loud and also the fastest for "a": its sample still wins.
    val m = new Rig(Iterator(5.0) ++ quiet,
      (p, q) => Some(if (p == 1 && q == "a") 0.5 else 1.0 + p)).run(abc)
    assert(m.passes.size === 4)
    assert(m.loud === 1)
    assert(m.preExt.head === 5.0)
    assert(m.warm("a") === 0.5)
    assert(m.warm("b") === 2.0)
  }

  test("an unmeasurable load (-1) does not count as quiet") {
    val m = new Rig(Iterator(-1.0, 0.0, -1.0) ++ quiet).run(abc)
    assert(m.passes.size === 5)
    assert(m.loud === 2)
  }

  test("the pass count never exceeds the cap") {
    val loud = Iterator.continually(5.0)
    assert(new Rig(loud).run(abc).passes.size === 5)
    val m = new Rig(Iterator.continually(5.0)).run(abc, quota = 2, cap = 4)
    assert(m.passes.size === 4)
    assert(m.loud === 4)
  }

  test("after the first pass, another starts only if it is affordable") {
    val seen = ArrayBuffer[Double]()
    val m = new Rig(quiet).run(abc,
      afford = best => { seen += best; false })
    assert(m.passes.size === 1)
    assert(seen === Seq(6.0)) // best pass total: 3 queries × 2.0 s
  }

  test("failed queries: one failed pass keeps the min, all failed is an error") {
    val m = new Rig(quiet, {
      case (0, "d") => None              // fails cold: never warm-timed
      case (2, "b") => None              // fails one warm pass
      case (p, "b") => Some(10.0 - p)
      case (p, "c") if p > 0 => None     // fails every warm pass
      case (p, _) => Some(1.0 + p)
    }).run(abc :+ "d")
    assert(!m.cold.contains("d"))
    assert(m.passes.forall(!_.contains("d")))
    assert(m.warm("b") === 7.0)          // passes 1 and 3: 9.0, 7.0
    assert(m.spread("b") === 2.0)
    assert(m.errors === Seq("c", "d"))
    assert(m.warm.keySet === Set("a", "b"))
  }

  test("warm passes run in the seed-fixed shuffle order") {
    val rig = new Rig(quiet)
    rig.run(abc)
    (1 to 3).foreach { p =>
      val order = rig.events.collect {
        case e if e.startsWith(s"time:$p:") => e.split(":")(2)
      }
      assert(order === new scala.util.Random(1000003L * p).shuffle(abc))
    }
  }

  test("the canary brackets every pass and closes after the last one") {
    val rig = new Rig(Iterator(5.0) ++ quiet)
    val m = rig.run(abc)
    val ev = rig.events
    // opening site + one site before each warm pass + the closing site
    assert(rig.canary.samples.size === 2 * (1 + m.passes.size + 1))
    assert(ev.takeRight(2) === Seq("canary", "canary"))
    assert(ev.lastIndexWhere(_.startsWith("time:")) < ev.size - 2)
    // every warm pass is preceded by its canary site
    (1 to m.passes.size).foreach { p =>
      val first = ev.indexWhere(_.startsWith(s"time:$p:"))
      assert(ev(first - 1) === "canary")
    }
  }

  test("a failed canary sample is dropped and counted") {
    var n = 0
    val log = new CanaryLog(() => {
      n += 1; if (n == 2) throw new RuntimeException("boom") else 1.0
    }, 2, "spec")
    log.site(); log.site()
    assert(log.samples === Seq(1.0, 1.0, 1.0))
    assert(log.errors === 1)
    assert(log.fields.map(_._1) ===
      Seq("canary_s", "canary_min", "canary_trusted", "canary_errors"))
    assert(new CanaryLog(() => 1.0, 2, "spec").minJson === "-1")
  }

  test("Canary.trusted: first sample dropped, 3 samples within 15% needed") {
    // The first sample pays codegen: a huge or a tiny one is ignored.
    assert(Canary.trusted(Seq(100.0, 1.0, 1.0, 1.0)))
    assert(Canary.trusted(Seq(0.5, 1.0, 1.0, 1.0)))
    // Only two post-warmup samples.
    assert(!Canary.trusted(Seq(1.0, 1.0, 1.0)))
    assert(!Canary.trusted(Seq.empty))
    // Exactly at the 15% edge counts; past it does not.
    assert(Canary.trusted(Seq(9.0, 1.0, 1.15, 1.15)))
    assert(!Canary.trusted(Seq(9.0, 1.0, 1.0, 1.16)))
    assert(!Canary.trusted(Seq(9.0, 1.0, 1.0, 1.2, 1.2)))
  }

  // ---- artifact key contracts ------------------------------------------
  // Top-level keys, in order, as the parent revision's code wrote them.

  private def keys(json: String): List[String] =
    new ObjectMapper().readTree(json).fieldNames().asScala.toList

  private val m = Measured(Seq("a", "b", "c"),
    cold = Map("a" -> 1.0, "b" -> 2.0),
    passes = Seq(Map("a" -> 0.5, "b" -> 1.5), Map("a" -> 0.6, "b" -> 1.4)),
    preExt = Seq(0.1, -1.0), loud = 1, passLoads = Seq("1.0", "1.1", "1.2", "1.3"))
  private val canaryFields = new CanaryLog(() => 1.0, 2, "spec").fields

  private val benchReport = graft.Bench.Report(m, canaryFields,
    sf1 = Map("a" -> 4.0), sf1Total = 4.0, sf1Full = false,
    sf1Budgeted = true, settleS = 0.0, outputRows = Map("a" -> 7L),
    prevWarm = Map("a" -> 0.4), loadBar = 1.0, budgetS = 2400.0,
    sfDir = "/data/sf0.1")

  test("Bench headline keys") {
    assert(keys(graft.Bench.headline(benchReport, 3.0, "0.5")) === List(
      "metric", "value", "unit", "queries", "queries_kind",
      "warm_pass_totals", "pass_loads", "pre_ext_loads", "load_bar",
      "loud_passes", "pass_min_ratio", "contended", "canary_s", "canary_min",
      "canary_trusted", "canary_errors", "n", "cold_total", "errors",
      "sf1_total", "sf1_full", "sf1_full_total", "sf1_budgeted", "sf1_n",
      "settle_s", "streaming_rps", "wall_s", "budget_s", "load_hint",
      "detail", "sf"))
  }

  test("BENCH_DETAIL.json keys") {
    assert(keys(graft.Bench.detail(benchReport)) === List(
      "warm_total", "cold_total", "warm_queries", "cold_queries",
      "warm_spread", "warm_delta_vs_prev", "warm_prev_present",
      "sf1_queries", "sf1_total", "sf1_full", "sf1_full_total",
      "sf1_budgeted", "budget_s", "settle_s", "canary_s", "canary_min",
      "canary_trusted", "canary_errors", "output_rows",
      "output_rows_per_sec", "streaming", "warm_pass_1", "warm_pass_2",
      "pass_loads", "pass_loads_kind", "pre_ext_loads", "load_bar",
      "loud_passes", "errors", "sf"))
  }

  private val sf10Report = graft.tools.BenchSf10.Report(m, canaryFields,
    sf1 = Map("a" -> 0.1), outputRows = Map("a" -> 7L), sfDir = "/data/sf10",
    shuffleParts = "128", cpus = "16", driverMem = "8g", wallS = 1.0,
    budgetS = 9000.0)

  test("BENCH_SF10_BASIS.json keys") {
    assert(keys(graft.tools.BenchSf10.basis(sf10Report)) === List(
      "metric", "value", "unit", "queries", "queries_kind",
      "warm_pass_totals", "pass_loads", "pre_ext_loads", "loud_passes",
      "load_unmeasured", "canary_s", "canary_min", "canary_trusted",
      "canary_errors", "n", "errors", "cold_total", "sf1_total_25",
      "ratio_total", "shuffle_partitions", "cpus", "driver_mem", "wall_s",
      "budget_s", "detail", "sf"))
  }

  test("BENCH_SF10_DETAIL.json keys") {
    assert(keys(graft.tools.BenchSf10.detail(sf10Report)) === List(
      "kind", "protocol", "fixture", "warm_total", "cold_total",
      "warm_queries", "cold_queries", "warm_spread", "sf1_queries",
      "sf1_to_sf10_ratio", "output_rows", "output_bound_by_design",
      "errors", "pass_loads", "pre_ext_loads", "load_unmeasured",
      "canary_s", "canary_min", "canary_trusted", "canary_errors",
      "warm_pass_totals", "shuffle_partitions", "cpus", "driver_mem",
      "wall_s"))
  }

  test("BENCH_SF100.json keys") {
    val r = graft.tools.BenchSf100.Report(m, canaryFields,
      sf10 = Map("a" -> 0.1), sf10Shuffle = "128", loadBar = 4.0,
      sfDir = "/data/sf100", shuffleParts = "256", cpus = "16",
      driverMem = "8g", wallS = 1.0, budgetS = 7200.0)
    assert(keys(graft.tools.BenchSf100.card(r)) === List(
      "kind", "protocol", "fixture", "families", "warm_total", "cold_total",
      "warm_queries", "cold_queries", "sf10_queries", "sf10_to_sf100_ratio",
      "ratio_note", "errors", "pass_loads", "pre_ext_loads", "load_bar",
      "loud_passes", "canary_s", "canary_min", "canary_trusted",
      "canary_errors", "shuffle_partitions", "cpus", "driver_mem", "wall_s",
      "budget_s"))
  }

  test("STREAMBENCH.json keys") {
    val row = StreamBench.Result("cdc", "hdfs", rows = 10L, secs = 1.0,
      rowsPerSec = 10.0, stateRows = 3L, stateBytes = 100L, outputRows = 5L,
      rowsTracked = true)
    Seq(-1.0, 0.9).foreach { norm =>
      val json = StreamBenchMain.render(StreamBenchMain.Report(8, "1.0",
        "1.1", canaryFields, canaryBasis = 3.5, normFactor = norm, Seq(row)))
      assert(keys(json) === List(
        "kind", "cpus", "load_pre", "load_post", "canary_s", "canary_min",
        "canary_trusted", "canary_errors", "canary_basis_s",
        "canary_basis_source", "norm_factor", "norm_note", "streaming"))
    }
  }

  test("Probe canary and bridge line keys") {
    assert(keys(graft.tools.Probe.canaryLine(8, 8, Seq(1.0, 1.1))) === List(
      "kind", "cpus", "shuffle_partitions", "canary_s", "canary_min",
      "canary_trusted"))
    assert(keys(graft.tools.Probe.bridgeLine(32, 32, 2, Seq(1.0, 1.1),
      Seq(0.9, 1.0, 0.95, 1.0))) === List(
      "kind", "cpus", "shuffle_partitions", "rounds", "v1_s", "v2_s",
      "v1_min", "v2_min", "v1_over_v2", "v1_trusted", "v2_trusted", "note"))
  }

  test("Probe dump counts distinct codegen stages of an executed plan") {
    val plan =
      """AdaptiveSparkPlan (12)
        |+- == Final Plan ==
        |   * HashAggregate (8)
        |   +- ShuffleQueryStage (7)
        |      +- Exchange (6)
        |         +- * HashAggregate (5)
        |            +- * Project (4)
        |               +- * ColumnarToRow (3)
        |                  +- Scan parquet  (1)
        |
        |(3) ColumnarToRow [codegen id : 1]
        |(4) Project [codegen id : 1]
        |(5) HashAggregate [codegen id : 1]
        |(8) HashAggregate [codegen id : 2]
        |""".stripMargin
    assert(graft.tools.Probe.codegenStages(plan) === 2)
    // A pre-execution AQE plan prints no codegen ids at all.
    assert(graft.tools.Probe.codegenStages(
      "AdaptiveSparkPlan (5)\n+- HashAggregate (4)\n(4) HashAggregate\n") === 0)
  }
}
