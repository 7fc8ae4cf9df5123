package graft
import java.nio.file.{Files, Paths}

import graft.harness.BenchCore
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names — subset runs while
    // iterating (the driver passes two args, so its run stays full).
    // `--json-only` rewrites the FULL oracle_sql.json without running any
    // query (recovery after a pre-merge subset run clobbered it).
    val jsonOnly = args.length > 2 && args(2) == "--json-only"
    val nameFilter = if (jsonOnly) "" else if (args.length > 2) args(2) else ".*"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = BenchCore.session(cpus,
      BenchCore.shufflePartitions(sfDir, cpus), logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_COALESCE=0 keeps the write's natural parallelism: at
    // the sf100 digest-adjudication scale a coalesce(1) drags the whole
    // post-shuffle stage (a ~95M-row sessionize window) onto ONE task.
    // The default stays coalesce(1) — the driver's pandas row-diff reads
    // a single file; tools/digest_compare.py globs <name>/*.parquet and
    // is the only consumer of multi-file dumps.
    val coalesce1 = sys.env.getOrElse("GRAFT_VERIFY_COALESCE", "1") != "0"
    SparkEntry.queries.filter(_._1.matches(nameFilter)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Drop blocks the finished query left behind (Materialize =
      // localCheckpoint): at sf10 a single query's cached pair graph is
      // GBs, and accumulating them across 250+ queries starves the next
      // query's execution memory (the r15 probe OOM'd exactly this way).
      finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Subset runs (third-arg regex) MERGE into an existing oracle_sql.json
    // instead of clobbering it: re-dumping one query into a full out dir
    // must not shrink the oracle map the checker iterates. Keys already in
    // the old file re-serialize from the CURRENT oracle map (same source
    // the old file was written from); only their presence is read back.
    val jsonPath = Paths.get(s"$outDir/oracle_sql.json")
    val oldKeys: Set[String] =
      if (nameFilter == ".*" || !Files.exists(jsonPath)) Set.empty
      else {
        val txt = Files.readString(jsonPath)
        SparkEntry.oracleSql.keys.filter(k => txt.contains(q(k) + ": ")).toSet
      }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => jsonOnly || k.matches(nameFilter) || oldKeys(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(jsonPath, json)
    spark.stop()
  }
}
