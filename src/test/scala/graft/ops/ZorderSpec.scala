package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unit spec for the Morton-curve layout operator. */
class ZorderSpec extends SparkSpec {

  test("zkey: hand-computed interleave; bijective on a small grid") {
    import spark.implicits._
    // a=0b1010, b=0b0101 → interleaved (a-major) 0b10011001 = 153.
    val df = Seq((10L, 5L)).toDF("a", "b")
      .select(Zorder.zkey(col("a"), col("b"), bits = 4).alias("z"))
    assert(df.head().getLong(0) === 153L)
    // Bijectivity over the full 16×16 grid: 256 distinct keys in [0, 255].
    val grid = (for (a <- 0 until 16; b <- 0 until 16) yield (a.toLong, b.toLong))
      .toDF("a", "b")
      .select(Zorder.zkey(col("a"), col("b"), bits = 4).alias("z"))
      .collect().map(_.getLong(0))
    assert(grid.distinct.length === 256)
    assert(grid.min === 0L && grid.max === 255L)
  }
}
