package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton curve): interleave the bits of two bounded
  * dimensions into one clustering key, so sorting by the key co-locates
  * rows that are close in BOTH dimensions at once.
  *
  * Why this is a 100 TB operator: parquet row-group pruning works off
  * per-file/per-group min-max stats. A table sorted by one column prunes
  * on that column only — a predicate on the second reads everything.
  * Range-partitioned and sorted by the key, every file covers a small
  * RECTANGLE of the (a, b) space, so range predicates on EITHER (or both)
  * dimensions skip most files — the standard lakehouse layout trick for
  * two-dimensional scan patterns (time × tenant, user × day).
  *
  * The key itself is a pure codegen'd bit-interleave projection — no
  * shuffle, no UDF — and exactly reproducible in the oracle's integer
  * arithmetic.
  */
object Zorder {

  /** Morton key of two non-negative ints, `bits` bits each: bit `j` of
    * `a` lands at key position `2j+1`, of `b` at `2j` (a-major). Caller
    * guarantees both inputs fit in `bits` bits (clamp/hash upstream);
    * the key fits in `2·bits` bits — keep `bits ≤ 31` for a long key.
    */
  def zkey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).map { j =>
      shiftleft(shiftright(al, j).bitwiseAND(lit(1L)), 2 * j + 1)
        .bitwiseOR(
          shiftleft(shiftright(bl, j).bitwiseAND(lit(1L)), 2 * j))
    }.reduce(_ bitwiseOR _)
  }

  /** The benchmark projection: each event keyed by (user bucket, clamped
    * integer value) — 10 bits each, a 20-bit Morton key. Pure map; the
    * oracle re-derives every key from the same shift/mask arithmetic.
    */
  val ZBits = 10

  def eventKeys(events: DataFrame): DataFrame = {
    val za = pmod(col("user_id"), lit(1024L))
    val zb = least(greatest(floor(col("value")).cast("long"), lit(0L)),
      lit(1023L))
    // Null values are excluded rather than clamped: Spark's least/greatest
    // skip nulls while other engines' may not — the one place the clamp
    // arithmetic could silently diverge.
    events.where(col("value").isNotNull).select(
      col("event_id"), za.alias("za"), zb.alias("zb"),
      zkey(za, zb, ZBits).alias("zkey"))
  }
}
