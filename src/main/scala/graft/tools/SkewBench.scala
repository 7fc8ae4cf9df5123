package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Cdc, Dedup, Sessionize, WindowOps}

/** Skew-stress measurement (r13 verdict item 2): the shuffle-heaviest
  * families run against a Zipf-heavy fixture — ONE hot key holding ~10 %
  * of all rows — next to the uniform fixture of the same size, so the
  * skew guards (AQE skew-split for the keyed windows,
  * `Dedup.saltHotBuckets` for the LSH hot bucket) are demonstrated at
  * bench scale instead of only in the degenerate unit fixture.
  *
  * Usage: `runMain graft.tools.SkewBench [sfDir]` (default
  * `target/testdata/sf1.0` — 1M events / 50k docs). Both fixtures are
  * WRITTEN TO PARQUET first (`target/testdata/skew/`) so the timed runs
  * read identical file shapes and the remap cost stays out of the
  * timings. Skew construction:
  *   - events: every 10th event reassigned to user 1 → one window/CDC/
  *     sessionize partition holds 10 % of the table;
  *   - documents: every 20th document's text replaced by one shared
  *     boilerplate string → 5 % of the corpus lands in ONE (band, bucket)
  *     per band, the classic LSH hot-bucket flood (run at bucketCap 512
  *     so the salted sub-bucket path actually executes).
  *
  * Prints one line per (op, fixture) with min-of-2 warm seconds and a
  * final skew/uniform ratio line per op — the evidence BASELINE.md
  * records (gate: ratio ≤ 2).
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "target/testdata/sf1.0"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.harness.BenchCore.session(cpus, cpus)
    val out = "target/testdata/skew"
    Files.createDirectories(Paths.get(out))

    val ev = graft.harness.StandIn.events(spark, sfDir)
    ev.write.mode("overwrite").parquet(s"$out/events_uniform")
    ev.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(1L))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$out/events_skew")

    val docs = graft.harness.StandIn.documents(spark, sfDir)
    docs.write.mode("overwrite").parquet(s"$out/docs_uniform")
    val boiler = docs.orderBy(col("doc_id")).limit(1)
      .select(col("text")).collect()(0).getString(0)
    docs.withColumn("text",
        when(pmod(col("doc_id"), lit(20)) === 7, lit(boiler))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$out/docs_skew")

    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def evF(kind: String) = spark.read.parquet(s"$out/events_$kind")
    def docF(kind: String) = spark.read.parquet(s"$out/docs_$kind")

    val ops: Seq[(String, String => DataFrame)] = Seq(
      ("cdc_apply", k => Cdc.applyLatest(evF(k))),
      ("scd2_history", k => Cdc.scd2History(evF(k))),
      ("sessionize", k => Sessionize.sessions(evF(k))),
      ("window_moving_stats", k => WindowOps.movingStats(evF(k))),
      ("dedup_minhash_lsh", k =>
        Dedup.minhashCandidates(docF(k), bucketCap = 512)))

    val results = ops.map { case (name, f) =>
      val u = Seq(time(f("uniform")), time(f("uniform"))).min
      val s = Seq(time(f("skew")), time(f("skew"))).min
      println(f"[skew] $name%-20s uniform=$u%6.2fs skew=$s%6.2fs " +
        f"ratio=${s / u}%5.2f")
      (name, u, s)
    }
    val worst = results.map { case (_, u, s) => s / u }.max
    println(f"[skew] worst ratio: $worst%5.2f (gate: <= 2.0)")

    // OUTPUT-BOUND regime, reported separately from the ratio gate: the
    // skew fixture's boilerplate floods 5 % of the corpus into ONE
    // near-dup clique, so the exact set-similarity answer (and the
    // verified graph the keeper table consumes) IS Θ(clique²) ≈ 3.1M
    // pairs — a cost no algorithm shrinks. The measurement here is
    // throughput on the adversarial case (does the join compute the
    // blown-up answer or die), not a skew-guard ratio.
    for ((name, f) <- Seq[(String, String => (DataFrame, String))](
        ("dedup_setsim_exact", k => (Dedup.setSimJoin(docF(k)), "pairs")),
        ("dedup_pagerank_keepers",
          k => (Dedup.pagerankKeepers(docF(k)), "rows"))): Seq[(String,
            String => (DataFrame, String))]) {
      for (kind <- Seq("uniform", "skew")) {
        val t0 = System.nanoTime()
        val (df, unit) = f(kind)
        val n = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[skew-output] $name%-22s $kind%-7s $n%9d $unit " +
          f"in $secs%7.2fs (${n / math.max(secs, 1e-9)}%,.0f $unit/s)")
      }
    }
    spark.stop()
  }
}
