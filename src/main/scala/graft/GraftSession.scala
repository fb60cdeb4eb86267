package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory for the engine.
  *
  * Settings are chosen for the local[32] test harness but with the
  * 1000-executor posture in mind: AQE on (runtime shuffle coalescing +
  * skew-join splitting), UTC session timezone (reproduces the reference's
  * `datetime.fromtimestamp` on a UTC cluster — see
  * reference `spark-jobs/sparkify_etl.py:146-149`), and shuffle widths
  * and file-listing jobs sized to the session's cores rather than the
  * 200 default. The cores are N for a `local[N]` master, otherwise
  * `SPARK_GRAFT_CPUS` (default 32): a `local[4]` session runs 4 shuffle
  * partitions whatever the environment says.
  *
  * `file://` goes through [[graft.sources.ForklessLocalFileSystem]]
  * (`FileSystem` API) and [[graft.sources.ForklessLocalFs]]
  * (`FileContext`). Without libhadoop the stock local FS forks
  * `/bin/chmod` for every file, `.crc` sidecar and directory it
  * creates, and `readlink` for every `FileContext.rename`; these set
  * the same modes in-process and keep the `.crc` checksums. Without
  * these two settings `file://` resolves to Hive's
  * `ProxyLocalFileSystem` (hive-exec's ServiceLoader entry), a filter
  * over the same checksummed `LocalFileSystem`. `gs://` is unaffected.
  * Hadoop caches one `FileSystem` per scheme and user, not per conf:
  * a `file://` instance created in this JVM before the first session
  * (from a plain `new Configuration()`) stays the stock one.
  *
  * Parquet `TIMESTAMP(NANOS)` columns read as epoch-nanos `BIGINT`
  * (`spark.sql.legacy.parquet.nanosAsLong`) on every session it builds,
  * for every read: footer conversion in [[graft.sources.Parquet]] and
  * Spark's own inference both follow it. It is set once here, so how
  * such a column reads never depends on which query ran first.
  *
  * Every session it builds carries [[graft.functions.GraftExtensions]]:
  * the native `graft_*` functions and the range-join optimizer rule
  * (a no-op until `spark.graft.rangeJoin.bucketWidth` is set). The
  * sessions derived from it (`newSession()`, and the `cloneSession()`
  * each `foreachBatch` micro-batch runs on) inherit them, so no
  * operator registers anything. Caveat: `getOrCreate` returns an
  * already-active session unchanged, with the extensions it was built
  * with — a session built outside this builder needs
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftSession {

  private val LocalCores = """local\[(\d+)\]""".r

  def builder(appName: String = "graft", master: String = ""): SparkSession.Builder = {
    val cores = master match {
      case LocalCores(n) => n
      case _             => sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    }
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Volume-adaptive shuffle width: AQE can only coalesce DOWN from
      // the initial partition count, so a fixed 32 starves corpus-sized
      // shuffles (measured: the release soak's 270M-token pack_export
      // spilled through ~8.4M-token partitions and went 10.7x for 5x
      // the data — SCALE.md round-11 table). Start shuffles wide; AQE
      // coalesces small queries back to a handful of partitions, so
      // fixture-scale plans keep their task counts while corpus-scale
      // stages get the width the volume needs. 8x cores locally mirrors
      // the 2-5x-cores guidance a real cluster runs with.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores.toInt * 8).toString)
      // One-wave source listing: a read of more than 32 root paths
      // lists them in a Spark job with one task per path (EP1's song
      // glob: 160 one-stat tasks; the songs table read-back: ~48).
      // Capping that job at the task slots runs it in one wave; tasks
      // past the slot count would only queue, so listing concurrency
      // is unchanged and only their launch cost goes (traced etl_batch
      // on 4 cores: listing 1.2 -> 0.1 s per reload). The 32-path
      // threshold stays: below it listing runs on the driver, which
      // costs seconds per read against gs://. The cap is the same
      // cores the shuffle width is sized to; nothing else needs setting.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cores)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Spark refuses TIMESTAMP(NANOS) columns (old events archives)
      // without it; CoreQueries.normalizeEventTs converts the BIGINT.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // S11 parity: fewer GCS metadata ops on commit when running
      // against gs:// paths (no-op on local FS).
      .config("spark.hadoop.fs.gs.implicit.dir.repair.enable", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.ForklessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.ForklessLocalFs].getName)
      .withExtensions(new graft.functions.GraftExtensions)
    if (master.nonEmpty) b.master(master) else b
  }

  /** Session for the command-line entry points. The master spark-submit
    * passes (`spark.master`) wins; `local[SPARK_GRAFT_CPUS]` is the
    * fallback for a plain `java`/`sbt run` launch.
    */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(appName, sys.props.getOrElse("spark.master", s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
