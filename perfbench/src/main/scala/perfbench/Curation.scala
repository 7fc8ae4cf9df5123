package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** `curation`: a closed loop with one client over the batch engine's
  * registered queries, each evaluated through the noop sink as
  * `graft.Bench` does. A full pass of all 264 is far longer than one run
  * may take, so the benchmark times a fixed, family-stratified subset:
  * in every family, the [[PerFamily]] queries whose names hash lowest.
  * The seed shuffles the order of every pass.
  */
object Curation {
  type Query = (SparkSession, String) => DataFrame

  val PerFamily = 2
  /** Untimed passes after the cold one: pass times fall steeply over the
    * first four executions of each query (JIT) and slowly for a few more,
    * so the timed passes are summarised by medians.
    */
  val WarmPasses = 3

  val families: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("reference", QueriesReference.queries, QueriesReference.oracleSql),
    ("dedup", QueriesDedup.queries, QueriesDedup.oracleSql),
    ("sim", QueriesSim.queries, QueriesSim.oracleSql),
    ("text", QueriesText.queries, QueriesText.oracleSql),
    ("corpus", QueriesCorpus.queries, QueriesCorpus.oracleSql),
    ("multimodal", QueriesMultimodal.queries, QueriesMultimodal.oracleSql),
    ("olap", QueriesOlap.queries, QueriesOlap.oracleSql),
    ("stat", QueriesStat.queries, QueriesStat.oracleSql))

  /** (family, name, query, oracle SQL if the query has one). */
  val subset: Seq[(String, String, Query, Option[String])] = families.flatMap { case (fam, qs, oracle) =>
    qs.keys.toSeq.sortBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n)).take(PerFamily)
      .map(n => (fam, n, qs(n), oracle.get(n)))
  }

  def run(spark: SparkSession, data: String, seed: Long, seconds: Int, outDir: String): Outcome = {
    val sc = spark.sparkContext
    val failed = mutable.LinkedHashMap.empty[String, String]
    val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def exec(name: String, tag: String)(write: DataFrame => Unit, q: Query): Option[Double] = {
      sc.setLocalProperty(Listeners.OpKey, tag)
      val s = Clock.nowUs
      try {
        write(q(spark, data))
        Some((Clock.nowUs - s) / 1000.0)
      } catch {
        case e: Throwable =>
          failed.getOrElseUpdate(name, e.toString.take(300)); None
      } finally {
        Trace.add(Span("curation.query", s"query:$tag", "", s, Clock.nowUs))
        spans += ((tag, s, Clock.nowUs))
        sc.setLocalProperty(Listeners.OpKey, null)
      }
    }

    // Set-up: one cold execution of each query, its answer written as
    // parquet for the oracle check that follows the run.
    subset.foreach { case (_, name, q, _) =>
      exec(name, s"$name#setup")(_.write.mode("overwrite").parquet(s"$outDir/$name"), q)
    }
    for (w <- 1 to WarmPasses; (_, name, q, _) <- subset)
      exec(name, s"$name#warm$w")(_.write.format("noop").mode("overwrite").save(), q)
    val oracle = subset.collect { case (_, n, _, Some(sql)) => n -> sql }
    Json.writeFile(s"$outDir/oracle_sql.json", Json.obj(oracle.map { case (n, s) => n -> Json.str(s) }))

    val timing = Timing.begin()
    HeapProbe.start()
    val rnd = new scala.util.Random(seed)
    val lat = mutable.ArrayBuffer.empty[(String, String, Double)]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    var passes = 0
    while (passes == 0 || timing.elapsedS < seconds) {
      val t0 = Clock.nowUs
      rnd.shuffle(subset).foreach { case (fam, name, q, _) =>
        exec(name, s"$name#$passes")(_.write.format("noop").mode("overwrite").save(), q)
          .foreach(ms => lat += ((fam, name, ms)))
      }
      passTotals += (Clock.nowUs - t0) / 1e6
      passes += 1
    }
    val heapMb = HeapProbe.stop()
    timing.end()

    // Each query's median over the timed passes, then percentiles across
    // the queries, interpolated: a nearest-rank percentile of a few dozen
    // pooled samples falls on one or another slow query from run to run.
    val perQuery = lat.groupBy(_._2).map { case (n, xs) => n -> Stats.interpolated(xs.map(_._3).toSeq, 50) }
    val queryMs = perQuery.values.toSeq
    val famLayers = families.map(_._1).flatMap { fam =>
      val names = subset.filter(_._1 == fam).map(_._2).toSet
      def ofFam(tag: String) = names(tag.takeWhile(_ != '#')) &&
        tag.dropWhile(_ != '#').drop(1).forall(_.isDigit)
      val jobs = Listeners.opJobs.entrySet().toArray.toSeq
        .map(_.asInstanceOf[java.util.Map.Entry[String, mutable.ArrayBuffer[(Long, Long)]]])
        .filter(e => ofFam(e.getKey))
      val wallMs = lat.filter(_._1 == fam).map(_._3).sum
      val jobMs = jobs.map(e => Stats.unionUs(e.getValue.toSeq) / 1000.0).sum
      val famSpans = spans.filter(x => ofFam(x._1))
      val planNs = Listeners.planning.asScala.collect {
        case (ms, ns) if famSpans.exists { case (_, b, e) => ms >= b / 1000 && ms <= e / 1000 } => ns
      }.sum
      Seq(
        s"queries.$fam.s" -> wallMs / 1000.0 / passes,
        s"queries.$fam.jobs" -> jobs.map(_.getValue.size).sum.toDouble / passes,
        s"queries.$fam.planning_s" -> planNs / 1e9 / passes,
        s"queries.$fam.driver_gap_s" -> math.max(0.0, wallMs - jobMs) / 1000.0 / passes)
    }.toMap

    Outcome(
      attempted = (subset.size * (passes + 1 + WarmPasses)).toLong,
      failures = failed.keys.map(n => s"query:$n" -> 1L).toMap,
      e2e = Map(
        "p50_ms" -> Stats.interpolated(queryMs, 50),
        "tail_ms" -> Stats.interpolated(queryMs, 90),
        "throughput_per_s" -> subset.size / Stats.interpolated(passTotals.toSeq, 50),
        "heap_live_peak_mb" -> heapMb),
      layers = famLayers ++ Map(
        "queries.slowest10_s" -> queryMs.sorted.reverse.take(10).sum / 1000.0,
        "curation.passes" -> passes.toDouble,
        "curation.queries" -> subset.size.toDouble,
        "curation.oracle_covered" -> oracle.size.toDouble),
      timing = timing,
      info = Map(
        "errors" -> Json.obj(failed.toSeq.map { case (n, e) => n -> Json.str(e) }),
        "pass_s" -> passTotals.map(Json.num).mkString("[", ",", "]"),
        "query_ms" -> Json.nums(perQuery)))
  }
}
