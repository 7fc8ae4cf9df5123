package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** Per-session drift canary (r17 verdict item 1): a FIXED,
  * code-independent probe workload whose quiet-host cost is committed in
  * BASELINE.md, timed alongside every bench pass so a reader can separate
  * "the box is slow this session" from "the code got slower" WITHOUT the
  * manual null-test re-run r17 needed (the box measurably drifts 20–40%
  * session to session at zero external load — BASELINE §round-17).
  *
  * The workload is pure Spark built-ins over `spark.range` — no graft
  * code, no files, no RNG — so its cost is invariant under every change
  * this repo can make: a 48M-row integer projection into a 1M-key
  * hash aggregate through one shuffle, evaluated by the same noop sink
  * the bench uses. That exercises the same layers the bench totals are
  * made of (codegen'd projection CPU, shuffle write/read, hash-agg
  * memory) at a few seconds' cost.
  *
  * Normalization rule (documented in BASELINE §drift-canary): a round's
  * comparable headline is `total × (canary_basis / canary_min)` where
  * `canary_min` is the minimum stamped canary time of that run and
  * `canary_basis` is the committed quiet-host cost. The MIN is the right
  * estimator for the same reason per-query minima are: the canary is
  * fixed work, so every sample above the min is measured interference.
  *
  * Fixed 16 input slices (not `defaultParallelism`): the probe must cost
  * the same under every session the driver or a probe run builds; only
  * the host's actual speed may move it. (Shuffle partitioning follows
  * the session's `spark.sql.shuffle.partitions` — the driver bench pins
  * that per protocol, so it is session-stable where comparisons happen.)
  */
object Canary {

  /** Input rows: sized so the probe costs ~4 s on this box quiet at
    * local[4] — big enough that scheduler jitter is noise, small enough
    * to afford one sample per pass.
    */
  val Rows = 48000000L

  val Slices = 16

  /** The documented trust rule (BASELINE §Drift canary), in ONE place:
    * ≥3 post-warmup samples within 15% of their min, where post-warmup
    * is every sample but the first (the first pays the probe's own
    * codegen and always reads high). Every runner that stamps
    * `canary_trusted` (the bench mains through `BenchCore.CanaryLog`,
    * `Probe canary`/`bridge`, perfbench) calls this, so the rule cannot
    * diverge across artifacts readers are told to trust as one rule.
    */
  def trusted(samples: Seq[Double]): Boolean = {
    val post = samples.drop(1)
    post.size >= 3 && {
      val mn = post.min
      post.count(_ <= mn * 1.15) >= 3
    }
  }

  /** One probe execution → seconds. Deterministic plan, noop sink. */
  def run(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, Rows, 1L, Slices)
      .selectExpr(
        "(id * 2654435761) % 1000003 AS k",
        "id % 97 AS v")
      .groupBy("k")
      .agg(sum("v").alias("sv"), count(lit(1)).alias("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
