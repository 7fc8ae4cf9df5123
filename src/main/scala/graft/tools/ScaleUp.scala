package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× amplification of the driver's sf0.1 testdata into an
  * sf1.0-shaped dataset (usage: `runMain graft.tools.ScaleUp [src [dst]]`,
  * defaults `/root/testdata/sf0.1` → `target/testdata/sf1.0`) — the
  * 100×-the-verify-scale stress fixture the r13 verdict asked for. The
  * driver's generator is not available, so sf1.0 is built FROM sf0.1 by
  * union of 10 key-shifted copies; both engines then read the SAME
  * generated parquet, so every oracle comparison stays self-consistent.
  *
  * Copy discipline (copy c ∈ 0..9; c = 0 is the original, byte-identical):
  *   - every primary/foreign key shifts by c × K(domain), K chosen past
  *     each domain's maximum so copies never collide — and doc_ids stay
  *     below the 1 000 000 shift the incremental-dedup queries add;
  *   - timestamps are NOT shifted: the same time window holds 10× the
  *     traffic (the realistic direction of growth — windows/sessionize/
  *     resample face 10× rows per bucket, not a longer history);
  *   - document text: copies append a short ` rev{c}` marker except when
  *     `(doc_id + c) % 3 == 0`, so the corpus carries BOTH exact
  *     cross-copy duplicates (~⅓) and near-duplicates (~⅔) — the mix the
  *     dedup family exists for (10 verbatim copies of every doc would be
  *     degenerate; zero would test nothing);
  *   - embeddings: copies rotate the vector left by c components — norm-
  *     and distribution-preserving, but geometrically independent of the
  *     original (components are i.i.d.), so the ANN corpus grows 10×
  *     without 10-way ties at every neighbor slot.
  *
  * Each table lands as ONE parquet file (`<dst>/<name>.parquet`) so the
  * DuckDB side of the gate reads the identical path shape as the driver's
  * testdata.
  */
object ScaleUp {

  val Copies = 10

  // Key-domain shifts, each past the sf0.1 maximum of its domain.
  val KCust = 100000L
  val KSupp = 10000L
  val KPart = 100000L
  val KOrder = 1000000L
  val KEvent = 1000000L
  val KUser = 10000L
  val KDoc = 10000L
  val KVec = 10000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1.0"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.harness.BenchCore.session(cpus, cpus, logLevel = "WARN")
    run(spark, src, dst,
      kScale = if (args.length > 2) args(2).toLong else 1L)
    spark.stop()
  }

  /** Session-borrowing body so [[graft.Bench]] can regenerate the sf1.0
    * fixture in-process without the `main` wrapper stopping its session.
    *
    * @param kScale multiplier on every key-domain shift — 1 for the
    *   sf0.1→sf1.0 decade (byte-identical to the round-14 fixture), 10
    *   for the sf1.0→sf10 decade (shifts must clear the sf1.0 maxima;
    *   doc_ids top out at 999 999, still under the 1 000 000 shift the
    *   incremental-dedup queries add). Second-decade embeddings rotate
    *   by c AGAIN, so copies whose two rotation offsets sum equal are
    *   exact duplicate vectors under new ids — deliberate dedup stress,
    *   harmless for parity (every tie-break is (score, id)).
    */
  def run(spark: SparkSession, src: String, dst: String,
      kScale: Long = 1L): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Files.createDirectories(Paths.get(dst))

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Union of [[Copies]] per-copy projections of `base`. */
    def amplify(base: DataFrame)(copy: Int => DataFrame): DataFrame =
      (0 until Copies).map(copy).reduce(_ unionAll _)

    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$dst/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      Files.move(Paths.get(part), Paths.get(s"$dst/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // Clean the temp dir (part file already moved out).
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      println(s"[scaleup] wrote $dst/$name.parquet")
    }

    // Dimensions that stay fixed (the world has 25 nations either way).
    writeOne(read("region"), "region")
    writeOne(read("nation"), "nation")

    val customer = read("customer")
    writeOne(amplify(customer) { c =>
      customer.select(
        (col("c_custkey") + c * KCust * kScale).alias("c_custkey"),
        (if (c == 0) col("c_name")
         else concat(col("c_name"), lit(s"#$c"))).alias("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    val supplier = read("supplier")
    writeOne(amplify(supplier) { c =>
      supplier.select(
        (col("s_suppkey") + c * KSupp * kScale).alias("s_suppkey"),
        (if (c == 0) col("s_name")
         else concat(col("s_name"), lit(s"#$c"))).alias("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }, "supplier")

    val part = read("part")
    writeOne(amplify(part) { c =>
      part.select(
        (col("p_partkey") + c * KPart * kScale).alias("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, "part")

    val orders = read("orders")
    writeOne(amplify(orders) { c =>
      orders.select(
        (col("o_orderkey") + c * KOrder * kScale).alias("o_orderkey"),
        (col("o_custkey") + c * KCust * kScale).alias("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")

    val lineitem = read("lineitem")
    writeOne(amplify(lineitem) { c =>
      lineitem.select(
        (col("l_orderkey") + c * KOrder * kScale).alias("l_orderkey"),
        (col("l_partkey") + c * KPart * kScale).alias("l_partkey"),
        (col("l_suppkey") + c * KSupp * kScale).alias("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    val events = read("events")
    writeOne(amplify(events) { c =>
      events.select(
        (col("event_id") + c * KEvent * kScale).alias("event_id"),
        // +c·kScale µs per copy: copies land on the SAME sensors (sensor
        // identity is user_id mod 2/4, invariant under the shift — user_id
        // shifts are multiples of 4), and a physical sensor emits one
        // reading at a time — exact-tie storms of contradictory
        // simultaneous readings would make per-sensor state-machine
        // semantics order-dependent, a fixture artifact, not an engine
        // property. The disambiguator must scale with the DECADE: the
        // first decade stamps +c1 µs (c1 ∈ 0..9), so a second decade
        // stamping another flat +c2 would tie whenever c1+c2 collide;
        // +c2·10 instead gives unique combined offsets c1 + 10·c2
        // (r15 advice). 10×-density-in-window is preserved either way.
        (col("ts") + expr(s"INTERVAL ${c * kScale} MICROSECONDS")).alias("ts"),
        (col("user_id") + c * KUser * kScale).alias("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    val documents = read("documents")
    writeOne(amplify(documents) { c =>
      val text =
        if (c == 0) col("text")
        else when((col("doc_id") + c) % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(s" rev$c")))
      documents.select(
        (col("doc_id") + c * KDoc * kScale).alias("doc_id"),
        text.alias("text"),
        col("lang"), col("source"),
        length(text).alias("n_chars"))
    }, "documents")

    val embeddings = read("embeddings")
    val dim = 64
    writeOne(amplify(embeddings) { c =>
      val emb =
        if (c == 0) col("embedding")
        else concat(
          slice(col("embedding"), c + 1, dim - c),
          slice(col("embedding"), 1, c))
      embeddings.select(
        (col("vec_id") + c * KVec * kScale).alias("vec_id"),
        emb.alias("embedding"),
        col("label"))
    }, "embeddings")
  }
}
