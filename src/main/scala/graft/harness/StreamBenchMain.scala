package graft.harness

import graft.harness.BenchCore._

/** Standalone runner for [[StreamBench]]: runs the sweep on a quiet host
  * and writes `STREAMBENCH.json` beside the build for round-over-round
  * diffs. Usage: `runMain graft.harness.StreamBenchMain [out.json]`.
  * The load before and after the sweep is stamped so a loud-host artifact
  * discounts itself the same way the batch bench does.
  */
object StreamBenchMain {

  /** Everything the artifact is rendered from. */
  final case class Report(
      cpus: Int,
      loadPre: String,
      loadPost: String,
      canary: Seq[(String, Any)],
      canaryBasis: Double,
      normFactor: Double,
      results: Seq[StreamBench.Result])

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "STREAMBENCH.json"
    // Parsed to Int up front: a non-numeric value must fail HERE, not
    // produce an unparseable JSON artifact.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").trim.toInt
    val spark = session(cpus.toString, cpus.toString)
    val preLoad = loadNow()
    // Drift canary, stamped like the batch benches (BASELINE §Drift
    // canary). FOUR samples: the first pays the probe's own codegen,
    // leaving the ≥3 post-warmup samples the trust rule needs.
    val canary = new CanaryLog(() => Canary.run(spark), 4, "streambench")
    canary.site()
    // Session-regime normalization: the canary basis is CONFIG-SPECIFIC
    // (this runner's local[cpus] / shuffle=cpus session) and injected via
    // GRAFT_CANARY_BASIS_S; the committed quiet-host value lives in
    // BASELINE §Drift canary. When present and the canary is trusted,
    // every family row carries rows_per_sec_norm = rows_per_sec ×
    // canary_min / basis. A malformed or non-positive value falls back to
    // unnormalized output with a visible warning.
    val canaryBasisRaw = sys.env.get("GRAFT_CANARY_BASIS_S")
    val canaryBasis = canaryBasisRaw
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .filter(_ > 0).getOrElse(-1.0)
    if (canaryBasisRaw.isDefined && canaryBasis <= 0)
      System.err.println("[streambench] GRAFT_CANARY_BASIS_S=" +
        s"'${canaryBasisRaw.get}' is not a positive number — " +
        "rows_per_sec_norm omitted (unnormalized output)")
    val normFactor =
      if (canaryBasis > 0 && canary.trusted && canary.samples.nonEmpty)
        canary.samples.min / canaryBasis
      else -1.0
    // GRAFT_STREAM_DECADE=1 appends the 10×-scale flood-screen rows
    // (600k arrivals vs 10k refs) after the standard sweep.
    val decade = sys.env.getOrElse("GRAFT_STREAM_DECADE", "0") != "0"
    breather()
    val results = StreamBench.run(spark) ++
      (if (decade) StreamBench.runDecade(spark) else Seq.empty)
    val json = render(Report(cpus, preLoad, loadNow(), canary.fields,
      canaryBasis, normFactor, results))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }

  def render(r: Report): String = {
    val rows = r.results.map { s =>
      val norm =
        if (r.normFactor > 0)
          s""""rows_per_sec_norm":${(s.rowsPerSec * r.normFactor).toLong},"""
        else ""
      s"""    "${s.op}_${s.provider}":{"rows_per_sec":${s.rowsPerSec.toLong},""" +
        norm +
        s""""rows":${s.rows},"secs":${f2(s.secs)},"state_rows":${s.stateRows},""" +
        s""""rows_tracked":${s.rowsTracked},""" +
        s""""state_bytes":${s.stateBytes},"output_rows":${s.outputRows}}"""
    }.mkString("{\n", ",\n", "\n  }")
    obj(Seq("kind" -> quote("streambench"), "cpus" -> r.cpus,
      "load_pre" -> quote(r.loadPre), "load_post" -> quote(r.loadPost)) ++
      r.canary ++ Seq(
      "canary_basis_s" -> (if (r.canaryBasis > 0) f2(r.canaryBasis) else "-1"),
      "canary_basis_source" -> quote("env GRAFT_CANARY_BASIS_S; must be the " +
        "committed quiet-host basis for THIS runner's session shape " +
        s"(local[${r.cpus}], shuffle=${r.cpus}) from BASELINE section Drift " +
        "canary — a basis measured under another config does not price this run"),
      "norm_factor" -> (if (r.normFactor > 0) f2(r.normFactor) else "-1"),
      "norm_note" -> quote("rows_per_sec_norm = rows_per_sec x canary_min / " +
        "canary_basis_s: the canary (graft.harness.Canary, fixed " +
        "code-independent probe) prices this session's box regime against " +
        "the committed quiet-host basis, so absolute rates compare across " +
        "sessions; ratios within one run need no normalization"),
      "streaming" -> rows), pretty = true)
  }
}
