package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional 3rd arg: comma-separated query-name filter (local
    // iteration). Unknown names fail loudly — a typo would otherwise
    // silently dump nothing (the Bench filter discipline).
    val only: Option[Set[String]] = rest.headOption.map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"filter names unknown queries: ${unknown.mkString(",")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify", s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional durable-feature mode: materialize the shared text-feature
    // tables (shingles, token instances) to parquet under the given dir
    // and run every consumer from the disk-backed tables — the cluster
    // posture. Results must be hash-identical to the default
    // localCheckpoint-memo path (proved per-round by running the driver
    // compare in both modes).
    val featuresDir = sys.env.get("SPARK_GRAFT_FEATURES_DIR")
    featuresDir.foreach { fdir =>
      queries.TextQueries.materializeFeatures(spark, sfDir, fdir)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Per-query pin eviction (Bench's evictMemo policy): operators
      // pin intermediates with localCheckpoint, which is not evictable
      // — across a 186-query dump the pins would otherwise accumulate
      // until late queries run memory-starved. In durable-feature mode
      // the memo re-points at the parquet tables afterwards.
      queries.TextQueries.clearFeatureMemo()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      featuresDir.foreach(fdir => queries.TextQueries.pointFeaturesAt(spark, sfDir, fdir))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
