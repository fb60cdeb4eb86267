package graft

import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.transforms.Transforms._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** End-to-end + semantic-corner tests on reference-shaped JSON fixtures
  * (FIXTURES.md §A). Fixtures are authored inline and written to a temp
  * dir so the suite is self-contained.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  // --- fixtures ------------------------------------------------------
  // ts values (epoch millis): 1542241826796.0 → 2018-11-15 00:30:26 UTC
  // Includes: non-NextSong pages; empty + null userId; level change for
  // user 26 (free → paid, latest wins); user 7 with a TIED max ts (two
  // rows kept); events with no matching song; two events with identical
  // second-truncated start_time; ts values spanning two years.
  val songJson: Seq[String] = Seq(
    """{"artist_id":"ARX1","artist_latitude":null,"artist_longitude":null,"artist_location":"NYC","artist_name":"The Examples","song_id":"SOX1","title":"Test Song","duration":221.17,"year":2019}""",
    """{"artist_id":"ARX1","artist_latitude":null,"artist_longitude":null,"artist_location":"NYC","artist_name":"The Examples","song_id":"SOX2","title":"Second Song","duration":100.5,"year":2018}""",
    """{"artist_id":"ARX2","artist_latitude":"40.7","artist_longitude":"-74.0","artist_location":"LA","artist_name":"No Plays","song_id":"SOX3","title":"Unplayed","duration":50.0,"year":2017}"""
  )

  def logLine(
      user: String,
      ts: Double,
      song: String = null,
      artist: String = null,
      length: java.lang.Double = null,
      page: String = "NextSong",
      level: String = "free",
      session: Int = 1
  ): String = {
    def s(v: String) = if (v == null) "null" else "\"" + v + "\""
    def d(v: java.lang.Double) = if (v == null) "null" else v.toString
    s"""{"artist":${s(artist)},"auth":"Logged In","firstName":"F$user","gender":"F","itemInSession":1,"lastName":"L$user","length":${d(
        length
      )},"level":"$level","location":"NYC","method":"PUT","page":"$page","registration":1.5E12,"sessionId":$session,"song":${s(
        song
      )},"status":200,"ts":$ts,"userAgent":"Moz","userId":${s(user)}}"""
  }

  val t0 = 1542241826796.0 // 2018-11-15 00:30:26.796 UTC
  val logJson: Seq[String] = Seq(
    // user 26: level change, latest (t0+2000) wins with level=paid
    logLine("26", t0, "Test Song", "The Examples", 221.17, level = "free"),
    logLine("26", t0 + 2000, "Second Song", "The Examples", 100.5, level = "paid"),
    // user 7: tied max ts — BOTH rows must survive the argmax
    logLine("7", t0 + 5000, "Test Song", "The Examples", 221.17),
    logLine("7", t0 + 5000, null, null, null),
    // empty + null userId: filtered from users
    logLine("", t0 + 7000),
    s"""{"artist":null,"auth":"Logged In","firstName":null,"gender":null,"itemInSession":1,"lastName":null,"length":null,"level":"free","location":null,"method":"PUT","page":"NextSong","registration":null,"sessionId":9,"song":null,"status":200,"ts":${t0 + 8000},"userAgent":null,"userId":null}""",
    // same second-truncated start_time as the t0 row (796 vs 900 millis)
    logLine("31", t0 + 0.104e3 - 0.104e3 + 104, "Test Song", "The Examples", 221.17),
    // non-NextSong page: excluded everywhere
    logLine("26", t0 + 9000, page = "Home"),
    // a 2019 event (different year partition)
    logLine("42", 1546304461000.0) // 2019-01-01 01:01:01 UTC
  )

  lazy val dirs: (String, String) = {
    val root: Path = Files.createTempDirectory("graft-fixture")
    val in = root.resolve("raw")
    val out = root.resolve("transformed")
    val songDir = in.resolve("song_data/A/B/C")
    Files.createDirectories(songDir)
    songJson.zipWithIndex.foreach { case (j, i) =>
      Files.writeString(songDir.resolve(s"s$i.json"), j)
    }
    val logDir = in.resolve("log_data/2018/11")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("events.json"), logJson.mkString("\n"))
    (in.toString + "/", out.toString + "/")
  }

  lazy val ran: Unit = Pipeline.runFullBatch(spark, dirs._1, dirs._2)
  def table(name: String): DataFrame = { ran; Pipeline.readTable(spark, dirs._2, name) }

  private def jobDescription(js: SparkListenerJobStart): Option[String] =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))

  private val listenerMarker = "pipeline-spec: listener drained"

  /** Runs `body` with `listener` registered and returns once every event
    * its jobs posted has been delivered: the listener bus delivers
    * events in order, so once a marker job's start is seen, every
    * earlier event has been seen too.
    */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val markerSeen = new CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (jobDescription(js).contains(listenerMarker)) markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      val result = body
      sc.setJobDescription(listenerMarker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events not delivered")
      result
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(markerListener)
    }
  }

  /** Runs `body` with `file://` resolved to [[RenameRefusingFs]]. */
  private def withRenameRefusingFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val impl = hc.get("fs.file.impl")
    hc.set("fs.file.impl", classOf[RenameRefusingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      if (impl == null) hc.unset("fs.file.impl") else hc.set("fs.file.impl", impl)
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  /** The ids of the RDDs the session holds persisted or checkpointed. */
  private def pinnedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  // --- specs ---------------------------------------------------------

  test("songs_table: 5 columns, one row per song, year-partitioned") {
    val songs = table("songs_table")
    assert(songs.columns.sorted.toSeq == Seq("artist_id", "duration", "song_id", "title", "year"))
    assert(songs.count() == 3)
    val parts = new java.io.File(dirs._2 + "songs_table.parquet").listFiles()
    assert(parts.exists(_.getName == "year=2019"), "hive year= layout expected")
    // clusteredBy(year) before partitionBy: each hive partition is
    // written by ONE task — exactly one part file per year directory.
    parts.filter(_.getName.startsWith("year=")).foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName}: expected 1 part file per partition, got $n")
    }
  }

  test("artists_table: distinct across duplicate artist rows") {
    val artists = table("artists_table")
    assert(artists.count() == 2)
    assert(artists.columns.toSet == Set("artist_id", "name", "location", "latitude", "longitude"))
  }

  test("users_table: latest-wins, ties kept, null/empty userId dropped") {
    val users = table("users_table").collect()
    val byUser = users.groupBy(_.getAs[String]("user_id"))
    assert(!byUser.contains("") && !byUser.contains(null), "empty/null userId filtered")
    assert(byUser("26").length == 1 && byUser("26").head.getAs[String]("level") == "paid")
    assert(byUser("7").length == 2, "tied max ts keeps both rows")
    assert(byUser.keySet == Set("26", "7", "31", "42"))
  }

  test("time_table: distinct second-truncated UTC start_time + calendar dims") {
    val time = table("time_table")
    val rows = time.collect().map(r => r.getAs[java.sql.Timestamp]("start_time") -> r).toMap
    // t0=...826796ms and t0+104=...826900ms truncate to the same second
    // => one row for 2018-11-15 00:30:26
    val expected = java.sql.Timestamp.valueOf("2018-11-15 00:30:26")
    assert(rows.contains(expected), s"second truncation: ${rows.keys.toSeq.sortBy(_.getTime).mkString(",")}")
    val r = rows(expected)
    assert(r.getAs[Int]("hour") == 0 && r.getAs[Int]("day") == 15 && r.getAs[Int]("week") == 46)
    assert(r.getAs[Int]("month") == 11 && r.getAs[Int]("year") == 2018)
    assert(r.getAs[Int]("weekday") == 5) // 2018-11-15 is a Thursday; Spark dayofweek 1=Sunday
    // distinct NextSong ts seconds: 26(x2),28,31,31(user7 tie → same ts),33,34, 2019 → count distinct seconds
    assert(time.count() == time.select("start_time").distinct().count())
  }

  test("songplays_table: row per NextSong event, join semantics, year/month via time join") {
    val sp = table("songplays_table")
    val nextSongCount = 8 // 9 log lines minus 1 Home page
    assert(sp.count() == nextSongCount, "left joins never drop events")
    val matched = sp.filter("song_id is not null").collect()
    // events matching (song,artist,length): 26@t0 (221.17), 26@t0+2s (100.5), 7 first row, 31 → 4
    assert(matched.length == 4)
    assert(matched.forall(r => r.getAs[String]("artist_id") == "ARX1"))
    val r2019 = sp.filter("year = 2019").collect()
    assert(r2019.length == 1 && r2019.head.getAs[Int]("month") == 1)
    assert(sp.columns.contains("songplay_id"))
  }

  test("full-outer songs⟗artists keeps artists with no songs (J1 coalesced key)") {
    val songs = table("songs_table")
    val artists = table("artists_table")
    val dim = songs
      .join(artists, Seq("artist_id"), "full")
      .select("song_id", "title", "artist_id", "name", "duration")
    assert(dim.filter("artist_id = 'ARX2'").count() == 1)
    assert(dim.columns.count(_ == "artist_id") == 1, "USING join coalesces the key")
  }

  test("EP1 over 40 song files lists them in one wave of at most defaultParallelism tasks") {
    val in = Files.createTempDirectory("graft-listing").resolve("raw")
    // 40 leaf files: above the 32-path threshold, so the song read
    // launches a listing job.
    (0 until 40).foreach { i =>
      val dir = in.resolve(s"song_data/A/B${i % 4}/C${i % 3}")
      Files.createDirectories(dir)
      val a = i % 7
      Files.writeString(
        dir.resolve(s"TR$i.json"),
        s"""{"artist_id":"AR$a","artist_latitude":null,"artist_longitude":null,"artist_location":"L$a","artist_name":"Artist $a","song_id":"SO$i","title":"Song $i","duration":${100.0 + i},"year":${2000 + i % 5}}"""
      )
    }
    val logDir = in.resolve("log_data/2018/11")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("events.json"), logJson.mkString("\n"))
    val out = in.resolveSibling("transformed").toString + "/"

    val sc = spark.sparkContext
    val listingTasks = new ConcurrentLinkedQueue[Int]()
    listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (jobDescription(js).exists(_.startsWith("Listing leaf files")))
          listingTasks.add(js.stageInfos.map(_.numTasks).sum)
    })(Pipeline.runFullBatch(spark, in.toString + "/", out))

    val tasks = listingTasks.asScala.toSeq
    assert(tasks.nonEmpty, "expected a listing job for 40 song files")
    assert(tasks.forall(_ <= sc.defaultParallelism), s"listing tasks per job $tasks exceed ${sc.defaultParallelism} slots")
    assert(Pipeline.readTable(spark, out, "songs_table").count() == 40)
    assert(Pipeline.readTable(spark, out, "artists_table").count() == 7)
  }

  test("EP1 parses each JSON source once per reload and releases its pins") {
    val in = Files.createTempDirectory("graft-one-scan").resolve("raw")
    // line-delimited song files: 100 songs by 10 artists in 4 files
    val songs = (0 until 100).map { i =>
      val a = i % 10
      s"""{"artist_id":"AR$a","artist_latitude":null,"artist_longitude":null,"artist_location":"L$a","artist_name":"Artist $a","song_id":"SO$i","title":"Song $i","duration":${100.0 + i},"year":${2000 + i % 5}}"""
    }
    songs.grouped(25).zipWithIndex.foreach { case (part, f) =>
      val dir = in.resolve(s"song_data/A/B/C$f")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"TR$f.json"), part.mkString("\n"))
    }
    val events = (0 until 200).map(i => logLine(s"${i % 13}", t0 + i * 1000.0, s"Song ${i % 100}", s"Artist ${i % 10}", 100.0 + i % 100))
    val logDir = in.resolve("log_data/2018/11")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("events.json"), events.mkString("\n"))
    val out = in.resolveSibling("transformed").toString + "/"

    val records = new java.util.concurrent.atomic.LongAdder
    val pinnedBefore = pinnedRdds
    listening(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) records.add(te.taskMetrics.inputMetrics.recordsRead)
    })(Pipeline.runFullBatch(spark, in.toString + "/", out))
    assert(pinnedRdds == pinnedBefore, "the reload's pins must not outlive it")

    // One parse of each source, plus the songplays barrier's read-back
    // of songs and artists. A read of a pin counts one record per cached
    // batch, a handful here; a second parse of either source adds at
    // least its 100 records.
    val readBack = Seq("songs_table", "artists_table").map(Pipeline.readTable(spark, out, _).count()).sum
    val once = songs.length + events.length + readBack
    val read = records.sum
    assert(read >= once && read - once < songs.length / 2, s"records read $read, one scan of each source reads $once")
    assert(Pipeline.readTable(spark, out, "songplays_table").filter("song_id is not null").count() == events.length)
  }

  test("EP1 releases its pins when a write fails") {
    val out = Files.createTempDirectory("graft-ep1-fail").toString + "/"
    val pinnedBefore = pinnedRdds
    // task commit renames its attempt dir: every write fails
    withRenameRefusingFs(intercept[Exception](Pipeline.runFullBatch(spark, dirs._1, out)))
    assert(pinnedRdds == pinnedBefore, "a failed reload must release its pins")
  }

  test("incremental job: coalesce(1) single part + month partitioning") {
    val root = Files.createTempDirectory("graft-incr").toString + "/"
    Pipeline.runIncremental(
      spark,
      dirs._1 + "log_data/2018/11/events.json",
      root,
      singleFileOutput = true,
      partitionTimeByMonth = true
    )
    val userParts = new java.io.File(root + "users_table.parquet")
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(userParts.length == 1, "coalesce(1) → exactly one part file")
    val timeDirs = new java.io.File(root + "time_table.parquet").listFiles().map(_.getName)
    assert(timeDirs.exists(_.startsWith("month=")), s"month= hive dirs, got ${timeDirs.mkString(",")}")
  }

  test("incremental failure quarantines the raw file under failed/") {
    val root = Files.createTempDirectory("graft-quar").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("bad.json"), "{this is not json at all")
    val ok = Pipeline.runIncrementalQuarantined(spark, root, "bad.json", failFast = true)
    assert(!ok, "malformed input must report failure")
    assert(!Files.exists(rawDir.resolve("bad.json")), "raw file removed from raw/")
    assert(
      Files.exists(java.nio.file.Paths.get(root, "failed", "bad.json")),
      "raw file moved to failed/"
    )
  }

  test("CLI: a quarantined EP2 file fails the run and still lands in failed/") {
    val root = Files.createTempDirectory("graft-quar-cli").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("bad.json"), logJson.head.take(40))
    val e = intercept[RuntimeException] {
      graft.pipeline.PipelineRunner.run(
        Array("--bucket", root, "--raw_file_name", "bad.json", "--fail_fast", "true"),
        spark
      )
    }
    assert(e.getMessage.contains("bad.json") && e.getMessage.contains("quarantined"), e.getMessage)
    assert(!Files.exists(rawDir.resolve("bad.json")), "raw file removed from raw/")
    assert(Files.exists(java.nio.file.Paths.get(root, "failed", "bad.json")), "raw file moved to failed/")
  }

  test("quarantine throws, naming both paths, when the FS refuses the rename") {
    val root = Files.createTempDirectory("graft-quar-refused").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("bad.json"), "{this is not json at all")
    val e = withRenameRefusingFs(
      intercept[java.io.IOException](Pipeline.runIncrementalQuarantined(spark, root, "bad.json", failFast = true))
    )
    assert(e.getMessage.contains(s"${root}raw/bad.json") && e.getMessage.contains(s"${root}failed/bad.json"), e.getMessage)
    assert(e.getSuppressed.nonEmpty, "the read failure rides along as suppressed")
    assert(Files.exists(rawDir.resolve("bad.json")), "the file the FS refused to move is still in raw/")
  }

  test("incremental success leaves the raw file in raw/ (no quarantine)") {
    val root = Files.createTempDirectory("graft-quar-ok").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("events.json"), logJson.mkString("\n"))
    val ok = Pipeline.runIncrementalQuarantined(spark, root, "events.json", failFast = true)
    assert(ok)
    assert(Files.exists(rawDir.resolve("events.json")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "failed", "events.json")))
  }

  test("a poisoned EP2 file touches neither table and leaves no overlap thread running") {
    val root = Files.createTempDirectory("graft-quar-overlap").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("good.json"), logJson.mkString("\n"))
    Files.writeString(rawDir.resolve("poisoned.json"), (logJson :+ logJson.head.take(40)).mkString("\n"))
    def partFiles(): Map[String, Seq[Byte]] =
      Seq("users_table", "time_table").flatMap { t =>
        val dir = java.nio.file.Paths.get(root, "transformed", s"$t.parquet")
        Files.walk(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).map { f =>
          dir.relativize(f).toString -> Files.readAllBytes(f).toSeq
        }
      }.toMap

    assert(Pipeline.runIncrementalQuarantined(spark, root, "good.json", failFast = true))
    val good = partFiles()
    assert(good.size == 2, s"one part file per table expected, got ${good.keys}")
    assert(!Pipeline.runIncrementalQuarantined(spark, root, "poisoned.json", failFast = true))
    assert(partFiles() == good, "the poisoned run changed a table")
    assert(Files.exists(java.nio.file.Paths.get(root, "failed", "poisoned.json")), "poisoned file moved to failed/")
    val running = Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && t.getName.startsWith("graft-overlap-"))
    assert(running.isEmpty, s"overlap threads outlived the run: ${running.map(_.getName)}")
  }

  /** `output`'s users and time part files, keyed by path relative to
    * the table dir, and the names of every entry beside the tables.
    */
  private def tableState(output: String): (Map[String, Seq[Byte]], Set[String]) = {
    val parts = Seq("users_table", "time_table").flatMap { t =>
      val dir = java.nio.file.Paths.get(output, s"$t.parquet")
      if (!Files.exists(dir)) Nil
      else
        Files.walk(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).map { f =>
          s"$t/${dir.relativize(f)}" -> Files.readAllBytes(f).toSeq
        }.toSeq
    }.toMap
    (parts, new java.io.File(output).list().toSet)
  }

  private val tableDirs = Set("users_table.parquet", "time_table.parquet")

  test("a failed EP2 write or commit leaves both tables as the previous run wrote them") {
    val out = Files.createTempDirectory("graft-ep2-refused").toString + "/"
    val file = dirs._1 + "log_data/2018/11/events.json"
    Pipeline.runIncremental(spark, file, out, partitionTimeByMonth = true)
    val (good, beside) = tableState(out)
    // one users part file, one time part file in each of two months
    assert(good.size == 3 && beside == tableDirs, s"$beside: ${good.keys}")
    // task commit renames its attempt dir: both writes fail
    withRenameRefusingFs(intercept[Exception](Pipeline.runIncremental(spark, file, out, partitionTimeByMonth = true)))
    val (after, left) = tableState(out)
    assert(after == good, s"the failed run changed a table: ${after.keys} vs ${good.keys}")
    assert(left == tableDirs, s"a tmp or old dir was left beside the tables: $left")
  }

  test("EP2 restores a table stranded in its swap dir before a poisoned file fails") {
    val root = Files.createTempDirectory("graft-ep2-strand").toString + "/"
    val rawDir = java.nio.file.Paths.get(root, "raw")
    Files.createDirectories(rawDir)
    Files.writeString(rawDir.resolve("good.json"), logJson.mkString("\n"))
    Files.writeString(rawDir.resolve("poisoned.json"), (logJson :+ logJson.head.take(40)).mkString("\n"))
    val out = s"${root}transformed/"
    assert(Pipeline.runIncrementalQuarantined(spark, root, "good.json", failFast = true))
    val (good, _) = tableState(out)
    // a crash between a swap's two renames: the table sits in its old dir
    tableDirs.foreach(t => Files.move(java.nio.file.Paths.get(out, t), java.nio.file.Paths.get(out, s"$t.__load_old")))
    assert(!Pipeline.runIncrementalQuarantined(spark, root, "poisoned.json", failFast = true))
    val (after, beside) = tableState(out)
    assert(after == good, s"the stranded tables were not restored unchanged: ${after.keys} vs ${good.keys}")
    assert(beside == tableDirs, s"$beside")
  }

  test("single-file EP2 runs two jobs and plans no exchange; the multi-file mode writes the same rows") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val file = dirs._1 + "log_data/2018/11/events.json"
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan): Seq[SparkPlan] = helper.collect(p) { case e: Exchange => e }
    /** Runs one EP2 run; returns its job count and each write's exchanges. */
    def run(out: String, singleFileOutput: Boolean): (Int, Seq[Seq[SparkPlan]]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val writes = new ConcurrentLinkedQueue[SparkPlan]
      val qel = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand")) writes.add(qe.executedPlan)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(qel)
      try
        listening(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            if (!jobDescription(js).contains(listenerMarker)) jobs.incrementAndGet()
        })(Pipeline.runIncremental(spark, file, out, singleFileOutput = singleFileOutput))
      finally spark.listenerManager.unregister(qel)
      (jobs.get, writes.asScala.toSeq.map(exchanges))
    }
    val single = Files.createTempDirectory("graft-ep2-single").toString + "/"
    val multi = Files.createTempDirectory("graft-ep2-multi").toString + "/"
    val (jobs, singleWrites) = run(single, singleFileOutput = true)
    assert(jobs == 2, s"one job per table expected, got $jobs")
    assert(singleWrites.size == 2 && singleWrites.forall(_.isEmpty), s"single-file writes must not shuffle: $singleWrites")
    val (_, multiWrites) = run(multi, singleFileOutput = false)
    assert(multiWrites.size == 2 && multiWrites.forall(_.nonEmpty), s"multi-file writes keep their exchange: $multiWrites")
    Seq("users_table", "time_table").foreach { t =>
      def rows(out: String) = Pipeline.readTable(spark, out, t).collect().map(_.toString).sorted.toSeq
      assert(rows(single) == rows(multi), s"$t differs between the modes")
    }
  }

  test("case-insensitive resolution: userID resolves against userId column") {
    import org.apache.spark.sql.functions.col
    val logDf = spark.read.schema(Schemas.logData).json(dirs._1 + "log_data/*/*/*.json")
    // must not throw (spark.sql.caseSensitive=false default)
    assert(logDf.select(col("userID")).columns.head == "userID")
  }

  test("curateCorpus composes gate/clean/dedup/manifest exactly as the declared rules") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-curate").toString + "/curated"
    val (nIn, nOut) = Pipeline.curateCorpus(spark, sf, out, shards = 4)
    // Recompose the expected survivor set from the oracle-checked
    // queries the job claims to apply.
    val keep = queries.TextQueries
      .q106LmSurprisal(spark, sf)
      .filter(col("keep_doc"))
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    val clean = queries.TextQueries
      .q104SpanClean(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> r.getString(2))
      .toMap
    val expected = clean.view
      .filterKeys(keep)
      .filter { case (_, t) => t.trim.nonEmpty } // the min-token floor
      .toSeq
      .groupBy(_._2)
      .map { case (_, ds) => ds.map(_._1).min }
      .toSet
    val got = spark.read.parquet(out)
    val gotRows = got
      .select("doc_id", "text", "shard", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(nIn == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(nOut == gotRows.length.toLong, "observed count equals written rows")
    assert(gotRows.map(_._1).toSet == expected, "survivors = gate ∩ min-id-per-clean-text")
    gotRows.foreach { case (id, text, _, _) =>
      assert(text == clean(id), s"doc $id text must be the q104 cleaned text")
    }
    // Shard layout: hive dirs, ranks contiguous per shard.
    gotRows.groupBy(_._3).foreach { case (shard, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length), s"shard $shard ranks")
    }
    assert(
      new java.io.File(out).listFiles().map(_.getName).count(_.startsWith("shard=")) > 0,
      "shard-partitioned layout"
    )
    // CLI verb smoke: same job reachable from the runner surface.
    val out2 = Files.createTempDirectory("graft-curate-cli").toString + "/curated"
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "curate", "--data", sf, "--out", out2, "--shards", "4"),
      spark
    )
    assert(
      spark.read.parquet(out2).count() == gotRows.length.toLong,
      "CLI curate must produce the same corpus"
    )
  }

  test("curateCorpus drops docs whose text span-cleaning cut entirely") {
    // Docs 1/2 are identical 12-token texts: every position sits in a
    // cross-doc duplicated extent, so q104 cleans both to "". Without
    // the min-token floor they would collapse into ONE empty-text
    // "document" that ships into the curated corpus (the round-6
    // advice finding). Doc 3 is unique and must be the sole survivor.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-curate-empty").toString
    val boiler = (1 to 12).map(i => s"x$i").mkString(" ")
    val uniq = (1 to 12).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, boiler, "en", "s"),
      (2L, boiler, "en", "s"),
      (3L, uniq, "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write
      .parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("graft-curate-empty-out").toString + "/curated"
    val (nIn, nOut) = Pipeline.curateCorpus(spark, dir, out, shards = 2)
    assert(nIn == 3L && nOut == 1L, s"only the unique doc survives: $nIn -> $nOut")
    val rows = spark.read.parquet(out).select("doc_id", "text").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(3L), "fully-cut docs dropped")
    assert(rows.head.getString(1) == uniq, "survivor keeps its text")
  }

  test("curateCorpus knobs: span_clean=false keeps span-shared text; gate_millibits tightens the gate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-curate-knobs").toString
    val boiler = (1 to 12).map(i => s"x$i").mkString(" ")
    val uniq = (1 to 12).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, boiler, "en", "s"),
      (2L, boiler, "en", "s"),
      (3L, uniq, "en", "s"),
      // branching head: c1("a") = 2 but c12 = 1 each, so both docs
      // carry avg surprisal of exactly 1 bit (1000 milli-bits) — the
      // corpus's only nonzero-surprisal rows, the threshold's lever.
      (4L, "a b", "en", "s"),
      (5L, "a c", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write
      .parquet(s"$dir/documents.parquet")
    // span_clean=false: the boilerplate pair is NOT span-cut — exact
    // dedup keeps the smaller id, so 4 docs survive (boiler min-id,
    // uniq, and both branching docs; vs the default chain where the
    // span rule cuts the boiler pair to empty — the fully-cut test).
    val out = Files.createTempDirectory("graft-curate-nospan").toString + "/curated"
    val (nIn, nOut) =
      Pipeline.curateCorpus(spark, dir, out, shards = 2, minKeepTokens = 1,
        gateMilliBits = 4400L, spanClean = false)
    assert(nIn == 5L && nOut == 4L, s"exact-dedup-only semantics: $nIn -> $nOut")
    val rows = spark.read.parquet(out).select("doc_id", "text").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 3L, 4L, 5L), "min-id per text, spans kept")
    val textById = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(textById(1L) == boiler, "text ships uncut")
    // gate_millibits=999: the two 1000-milli-bit branching docs fall
    // below the line; the zero-surprisal docs stay.
    val out0 = Files.createTempDirectory("graft-curate-gate999").toString + "/curated"
    val (_, nTight) =
      Pipeline.curateCorpus(spark, dir, out0, shards = 2, minKeepTokens = 1,
        gateMilliBits = 999L, spanClean = false)
    assert(nTight == 2L, s"tightened gate must drop exactly the branching docs: $nTight")
    assert(spark.read.parquet(out0).select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L), "survivors under the tight gate")
    // default gateMilliBits reproduces the published keep rule exactly
    // (the composes-as-declared test above locks it against q106).
    // CLI: both knobs reachable from the runner surface.
    val outCli = Files.createTempDirectory("graft-curate-knobs-cli").toString + "/curated"
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "curate", "--data", dir, "--out", outCli,
        "--shards", "2", "--span_clean", "false", "--gate_millibits", "4400"),
      spark
    )
    assert(spark.read.parquet(outCli).count() == 4L, "CLI knobs must match the library call")
  }

  test("curateIngest first batch equals curateCorpus; replay converges; dups drop cross-batch") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("graft-curate-ingest").toString
    val (model, spans, index, out) = (s"$root/lm", s"$root/spans", s"$root/index", s"$root/out")
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    // Model frozen from the batch itself + empty states: the
    // incremental composition must reproduce the BATCH rule exactly.
    graft.operators.QualityModel.build(spark, docs, "doc_id", "text", model)
    val (nIn, nOut) = Pipeline.curateIngest(spark, docs, model, spans, index, out, batchId = 0L)
    val batchOut = Files.createTempDirectory("graft-curate-batch").toString + "/curated"
    val (_, nBatch) = Pipeline.curateCorpus(spark, sf, batchOut, shards = 4)
    def keyset(p: String) = spark.read
      .parquet(p)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val inc = keyset(s"$out/ingest_batch=0")
    assert(nIn == docs.count() && nOut == nBatch, s"counts must match: $nOut vs $nBatch")
    assert(inc == keyset(batchOut), "first-batch incremental curation ≡ the batch rule")
    // Replay of the applied batch converges to identical output.
    val (_, nReplay) = Pipeline.curateIngest(spark, docs, model, spans, index, out, batchId = 0L)
    assert(nReplay == nOut && keyset(s"$out/ingest_batch=0") == inc, "replay is idempotent")
    // Batch 1 re-sends the same texts under fresh ids: the frozen gate
    // passes the same docs, span cleaning yields the same clean text,
    // and the cross-batch hash index drops every one — zero accepted.
    val b1 = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val (n1, a1) = Pipeline.curateIngest(spark, b1, model, spans, index, out, batchId = 1L)
    assert(n1 == nIn && a1 == 0L, s"identical re-crawl must fully dedup cross-batch: $a1")
  }

  test("release verb: raw corpus -> trainer shards, each stage the stepwise verb's output") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("graft-release").toString
    // Eval corpus: the full text of three curated-survivor docs ->
    // guaranteed contamination hits after curation.
    val evalDir = s"$root/eval"
    spark.read
      .parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 17 === 3 && size(split(col("text"), "\\s+")) >= 10)
      .limit(3)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
      .write
      .parquet(evalDir)
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "release",
        "--data", sf,
        "--eval", evalDir,
        "--out", s"$root/rel",
        "--budget", "64",
        "--shards", "4",
        "--export_shards", "2",
        "--epochs", "2",
        "--provenance", "true"
      ),
      spark
    )
    // Layout: every stage landed.
    for (
      d <- Seq("curated", "decontam_report", "clean", "pack_state", "manifests", "vocab",
        "shards", "schedule", "provenance")
    )
      assert(new java.io.File(s"$root/rel/$d").exists(), s"missing stage dir $d")
    // Provenance side-file reconciles with the pack space: its token
    // total is the manifests' token total, and no attributed pack id
    // is outside the emitted space.
    val prov = spark.read.parquet(s"$root/rel/provenance")
    assert(
      prov.agg(sum(col("n_toks"))).head().getLong(0) ==
        spark.read.parquet(s"$root/rel/manifests").agg(sum(col("n_toks"))).head().getLong(0),
      "provenance token total must equal the manifests' total"
    )
    // clean == curated minus the report's contaminated ids (the purge rule).
    val curated = spark.read.parquet(s"$root/rel/curated")
    val contam = spark.read
      .parquet(s"$root/rel/decontam_report")
      .filter(col("contaminated"))
      .select("doc_id")
    val wantClean = curated
      .join(contam, Seq("doc_id"), "left_anti")
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    val gotClean =
      spark.read.parquet(s"$root/rel/clean").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotClean == wantClean && contam.count() > 0, "purge must drop exactly the contaminated ids")
    // The pack space tiles the clean corpus: every exported pack is
    // budget-full except the last, and landed == nPacks.
    val man = spark.read.parquet(s"$root/rel/manifests")
    val nPacks = man.agg(max(col("last_pack"))).head().getLong(0) + 1L
    val packs = spark.read.parquet(s"$root/rel/shards")
    assert(packs.count() == nPacks, "every pack landed in the shard export")
    val sizes = packs
      .select(col("pack_id"), size(col("token_ids")).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toMap
    for ((pid, n) <- sizes if pid < nPacks - 1) assert(n == 64, s"interior pack $pid underfull: $n")
    // Schedule covers the emitted pack space per epoch.
    val sched = spark.read.parquet(s"$root/rel/schedule")
    assert(sched.count() == 2 * nPacks)
    // _release.json counts agree with the landed data.
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/rel/_release.json")))
    assert(json.contains(s""""clean": ${gotClean.size}"""), json)
    assert(json.contains(s""""n_packs": $nPacks"""), json)
    assert(json.contains(s""""landed_packs": $nPacks"""), json)
    // Re-running the capstone into the SAME root must refuse up front:
    // its pinned --applied_id 0 would no-op the pack-state fold and
    // re-export shards from stale manifests against re-derived clean
    // docs with no interlock firing.
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "release",
          "--data", sf,
          "--eval", evalDir,
          "--out", s"$root/rel"
        ),
        spark
      )
    }
    assert(e.getMessage.contains("pack_state"), e.getMessage)
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("release verb --dsir_target: packs exactly the K most target-like clean docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("graft-release-dsir").toString
    // eval: content that cannot hit (no purge noise in this test)
    Seq((900001L, "zzqq wwrr vvtt uuss zzqq wwrr vvtt uuss zzqq wwrr"))
      .toDF("doc_id", "text").write.parquet(s"$root/eval")
    // target seed: a slice of the corpus itself (curated-quality docs)
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .write.parquet(s"$root/target")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "release",
        "--data", sf,
        "--eval", s"$root/eval",
        "--out", s"$root/rel",
        "--budget", "64",
        "--shards", "4",
        "--export_shards", "2",
        "--dsir_target", s"$root/target",
        "--dsir_keep", "40",
        "--dsir_buckets", "256"
      ),
      spark
    )
    // the DSIR stage landed its artifacts
    for (d <- Seq("dsir_weights", "dsir_scores", "selected", "shards"))
      assert(new java.io.File(s"$root/rel/$d").exists(), s"missing stage dir $d")
    // selected == the library's top-40 over clean against the frozen weights
    val clean = spark.read.parquet(s"$root/rel/clean")
    val expect = graft.operators.Importance
      .selectByImportance(
        graft.operators.Importance.importanceScores(
          clean, "doc_id", "text", spark.read.parquet(s"$root/rel/dsir_weights"), 256),
        "doc_id", 40)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val selected = spark.read.parquet(s"$root/rel/selected")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(selected == expect, "release must pack the library's selection exactly")
    assert(selected.size == 40)
    // the pack space tiles the SELECTED corpus, not clean
    val manToks = spark.read.parquet(s"$root/rel/manifests")
      .agg(sum(col("n_toks"))).head().getLong(0)
    val selToks = spark.read.parquet(s"$root/rel/selected")
      .select(size(split(col("text"), "\\s+")).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(manToks == selToks, "manifests must cover exactly the selected docs")
    // audit carries the selection count
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/rel/_release.json")))
    assert(json.contains(""""dsir_selected": 40"""), json)
  }

  test("capstone audit manifests land through the root's Hadoop FileSystem (file: URI roots)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // All three release capstones run into `file:`-SCHEMED roots — a
    // java.nio write would mangle the scheme into a path component (or
    // land on the driver's local disk under an hdfs:// root); going
    // through the root's FileSystem, each `_*.json` must land exactly
    // next to its shards.
    val base = Files.createTempDirectory("graft-manifest-fs").toString
    def manifest(localPath: String): String = {
      val f = new java.io.File(localPath)
      assert(f.exists(), s"manifest missing at $localPath")
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    // dpo_release
    Seq(
      (1L, 0L, null.asInstanceOf[java.lang.Long], "user", "hi", 0L),
      (1L, 1L, java.lang.Long.valueOf(0L), "assistant", "ok", 3L),
      (1L, 2L, java.lang.Long.valueOf(0L), "assistant", "meh", 1L)
    ).toDF("conv_id", "turn_id", "parent_id", "role", "content", "score")
      .write.parquet(s"$base/turns")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "dpo_release", "--turns", s"$base/turns",
      "--out", s"file:$base/dpo", "--shards", "2"), spark)
    assert(manifest(s"$base/dpo/_dpo_release.json").contains(""""pairs": 1"""))
    // sft_release (flat mode)
    Seq((1L, 1L, "user", "hi"), (1L, 2L, "assistant", "ok good"))
      .toDF("conv_id", "turn_key", "role", "content")
      .write.parquet(s"$base/sft_turns")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "sft_release", "--turns", s"$base/sft_turns",
      "--out", s"file:$base/sft", "--budget", "16",
      "--shards", "2", "--export_shards", "2"), spark)
    assert(manifest(s"$base/sft/_sft_release.json").contains(""""masked_tokens": 2"""))
    // release (pretraining)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(1).select(col("doc_id"), col("text")).write.parquet(s"$base/eval")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "release", "--data", "/root/testdata/sf0.001",
      "--eval", s"$base/eval", "--out", s"file:$base/rel",
      "--budget", "64", "--shards", "2", "--export_shards", "2"), spark)
    assert(manifest(s"$base/rel/_release.json").contains(""""landed_packs""""))
    // pref_pairs: the _pref.json audit sidecar goes through the same
    // Hadoop-FS route as the three capstones (the last java.nio data-
    // root write in the pipeline)
    Seq((10L, 1L, 90L), (10L, 2L, 20L)).toDF("prompt_id", "doc_id", "score")
      .write.parquet(s"$base/resp")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "pref_pairs", "--responses", s"$base/resp",
      "--out", s"file:$base/pref"), spark)
    assert(manifest(s"$base/pref/_pref.json").contains(""""pairs_kept": 1"""))
  }
}

/** The session's local FS, except that `rename` returns false, as HDFS
  * or GCS do when the target already exists.
  */
class RenameRefusingFs extends org.apache.hadoop.fs.FilterFileSystem(new graft.sources.ForklessLocalFileSystem) {
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = false
}
