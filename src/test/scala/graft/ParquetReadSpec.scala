package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Maintenance, Overlap}
import graft.pipeline.Pipeline
import graft.sources.Parquet
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, explode, split}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.sources.Parquet.read]] against Spark's own schema-inferring
  * `spark.read.parquet` on the engine's parquet layouts: the same
  * schema and the same rows, with no Spark job to build the read.
  */
class ParquetReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  /** A pyarrow-written catalog: one file per table, no Spark schema in its footers. */
  private val catalog = "perfbench/data/sf0.01"

  private def song(id: Int, year: Int): String =
    s"""{"artist_id":"AR$id","artist_latitude":null,"artist_longitude":null,"artist_location":"NYC","artist_name":"Artist $id","song_id":"SO$id","title":"Song $id","duration":10$id.5,"year":$year}"""

  private def play(user: Int, ts: Double, id: Int, page: String = "NextSong"): String =
    s"""{"artist":"Artist $id","auth":"Logged In","firstName":"F$user","gender":"F","itemInSession":1,"lastName":"L$user","length":10$id.5,"level":"free","location":"NYC","method":"PUT","page":"$page","registration":1.5E12,"sessionId":1,"song":"Song $id","status":200,"ts":$ts,"userAgent":"Moz","userId":"$user"}"""

  /** EP1's five tables (songs, time and songplays year-partitioned)
    * and EP2's month-partitioned time table, over two years of plays.
    */
  private lazy val etl: (String, String) = {
    val root: Path = Files.createTempDirectory("graft-parquet-read")
    val songDir = root.resolve("raw/song_data/A/B/C")
    Files.createDirectories(songDir)
    Files.writeString(songDir.resolve("s1.json"), song(1, 2018))
    Files.writeString(songDir.resolve("s2.json"), song(2, 2019))
    val logDir = root.resolve("raw/log_data/2018/11")
    Files.createDirectories(logDir)
    val log = logDir.resolve("events.json")
    Files.writeString(log, Seq(
      play(26, 1542241826796.0, 1), // 2018-11-15
      play(7, 1546304461000.0, 2), // 2019-01-01
      play(7, 1546304462000.0, 2, page = "Home")
    ).mkString("\n"))
    val ep1 = root.resolve("ep1").toString + "/"
    val ep2 = root.resolve("ep2").toString + "/"
    Pipeline.runFullBatch(spark, root.resolve("raw").toString + "/", ep1)
    Pipeline.runIncremental(spark, log.toString, ep2, singleFileOutput = false, partitionTimeByMonth = true)
    (ep1, ep2)
  }

  /** A fold-state dir: part files beside `_applied_id`, `_SUCCESS` and `.crc` sidecars. */
  private lazy val foldState: String = {
    val state = Files.createTempDirectory("graft-parquet-fold").resolve("state").toString
    val docs = Parquet.read(spark, s"$catalog/documents.parquet")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    Maintenance.refreshCardinality(spark, docs, Seq("lang"), "token", state, Some(1L))
    state
  }

  private def layouts: Seq[String] = {
    val (ep1, ep2) = etl
    Seq(
      s"${ep1}songs_table.parquet",
      s"${ep1}time_table.parquet",
      s"${ep1}songplays_table.parquet",
      s"${ep2}time_table.parquet",
      foldState,
      s"$catalog/documents.parquet",
      s"$catalog/events.parquet"
    )
  }

  /** The number of jobs `body` starts, counted once the listener bus has
    * delivered every event before a marker job's start.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "parquet-read-spec: listener drained"
    val markerSeen = new CountDownLatch(1)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p => p.getProperty("spark.job.description") == marker)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events not delivered")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("the same schema and rows as spark.read.parquet on every engine layout") {
    val (ep1, ep2) = etl
    def names(dir: String) = new java.io.File(dir).list().toSeq
    assert(names(s"${ep1}songs_table.parquet").exists(_.startsWith("year=")))
    assert(names(s"${ep2}time_table.parquet").exists(_.startsWith("month=")))
    val stateFiles = names(foldState)
    assert(stateFiles.contains("_applied_id") && stateFiles.exists(_.endsWith(".crc")), stateFiles)
    for (path <- layouts) {
      val theirs = spark.read.parquet(path)
      val ours = Parquet.read(spark, path)
      assert(ours.schema == theirs.schema, path)
      assert(Parquet.schemaOf(spark, path).exists(s => theirs.schema.fieldNames.startsWith(s.fieldNames)), path)
      assert(ours.count() > 0 && ours.exceptAll(theirs).isEmpty && theirs.exceptAll(ours).isEmpty, s"rows differ: $path")
    }
  }

  test("building a read starts no Spark job; an inferring read starts one") {
    val paths = layouts
    assert(jobsStartedBy(paths.foreach(p => Parquet.read(spark, p).schema)) == 0)
    assert(jobsStartedBy(spark.read.parquet(s"$catalog/documents.parquet")) >= 1,
      "the listener must see the inference job the reader avoids")
  }

  test("a missing path and a dir with no data file raise Spark's own exception") {
    val empty = Files.createTempDirectory("graft-parquet-empty")
    Files.writeString(empty.resolve("_SUCCESS"), "")
    for (path <- Seq(empty.resolve("missing").toString, empty.toString)) {
      val theirs = intercept[Exception](spark.read.parquet(path))
      val ours = intercept[Exception](Parquet.read(spark, path))
      assert(ours.getClass == theirs.getClass && ours.getMessage == theirs.getMessage, path)
      assert(Parquet.schemaOf(spark, path).isEmpty, path)
    }
  }

  test("a read on an Overlap side converts the footer with its own session's conf") {
    val events = s"$catalog/events.parquet"
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    def ts(s: SparkSession) = Parquet.read(s, events).schema("ts").dataType
    val active = SparkSession.getActiveSession
    // Each side's thread has the OTHER session active.
    val (fromSpark, fromLegacy) =
      try Overlap.both { SparkSession.setActiveSession(legacy); ts(spark) } { _ =>
        SparkSession.setActiveSession(spark)
        ts(legacy)
      }
      finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(fromSpark == TimestampNTZType && fromLegacy == TimestampType)
    assert(legacy.read.parquet(events).schema == Parquet.read(legacy, events).schema)
  }

  test("TIMESTAMP(NANOS) reads as long on every session the builder makes, before any events query") {
    assert(spark.newSession().conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
