package graft

import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming surface tests: memory sink + AvailableNow over the sf0.001
  * events parquet drive each streaming query synchronously.
  */
class StreamingSpec extends AnyFunSuite {

  implicit lazy val spark: SparkSession = GraftSession
    .builder("graft-streaming-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val eventsDir = "/root/testdata/sf0.001"

  /** File-stream sources need a directory: stage the single parquet
    * file into one.
    */
  lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft-events-stream")
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("events-0.parquet")
    )
    d.toString
  }

  test("windowed counts with watermark over file-source stream") {
    val events = StreamingPipeline.readEvents(spark, streamDir)
    val q = StreamingPipeline
      .windowedCounts(events)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_counts")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT * FROM win_counts")
    assert(out.count() > 0)
    // totals must equal the batch count
    val total = spark.sql("SELECT sum(n) FROM win_counts").collect()(0).getLong(0)
    assert(total == 1000L, s"all sf0.001 events counted, got $total")
  }

  test("t-digest aggregate runs in a streaming group-by (state-store safe buffers)") {
    // The TypedImperativeAggregate's byte-serialized buffer must
    // survive the streaming state store across micro-batches, and the
    // final estimates must match the batch digest within sketch bounds.
    import org.apache.spark.sql.functions._
    val events = StreamingPipeline.readEvents(spark, streamDir)
    val q = events
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions.graft_tdigest(col("value"), Seq(0.5)).as("qs"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tdig_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark
      .sql("SELECT event_type, qs[0] AS p50 FROM tdig_stream")
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    assert(streamed.nonEmpty)
    val batch = spark.read
      .parquet(s"$eventsDir/events.parquet")
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .collect()
      .groupBy(_.getString(0))
    for ((et, p50) <- streamed) {
      val sorted = batch(et).map(_.getDouble(1)).sorted
      val rank = sorted.count(_ <= p50).toDouble / sorted.length
      assert(math.abs(rank - 0.5) <= 0.02, s"$et streamed p50 rank=$rank")
    }
  }

  test("stateful sessionization matches the batch q11 semantics") {
    val events = StreamingPipeline.readEvents(spark, streamDir)
    val q = StreamingPipeline
      .sessionize(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sessions")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark
      .sql("SELECT event_id, user_id, session_seq FROM sessions")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batch = queries.CoreQueries
      .q11Sessionize(spark, eventsDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamed == batch, "stream and batch sessionization agree")
  }

  test("event-time-timeout sessions: closed by gap or by watermark, none invented") {
    val events = StreamingPipeline.readEvents(spark, streamDir)
    val q = StreamingPipeline
      .sessionWindows(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_windows")
      .start()
    q.processAllAvailable()
    q.stop()
    val emitted = spark
      .sql("SELECT user_id, session_seq, start_sec, end_sec, n_events FROM session_windows")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    // Batch truth: session summaries from q11's assignments + event ts.
    import org.apache.spark.sql.functions._
    val ev = queries.CoreQueries.events(spark, eventsDir)
    val maxTs = ev.agg(max(col("ts").cast("long"))).collect()(0).getLong(0)
    val batchSessions = queries.CoreQueries
      .q11Sessionize(spark, eventsDir)
      .join(ev.select(col("event_id"), col("ts").cast("long").as("tsSec")), "event_id")
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("tsSec")).as("start_sec"),
        max(col("tsSec")).as("end_sec"),
        count(lit(1)).as("n_events")
      )
    val lastSeq = batchSessions
      .groupBy(col("user_id"))
      .agg(max(col("session_seq")).as("last_seq"))
    // Expected: every non-final session (closed inline by its successor),
    // plus final sessions whose idle deadline precedes the watermark
    // (maxTs - 10 min) and are closed by the state timeout.
    val expected = batchSessions
      .join(lastSeq, "user_id")
      .filter(
        col("session_seq") =!= col("last_seq") ||
          (col("end_sec") + 1800) < (lit(maxTs) - 600)
      )
      .select("user_id", "session_seq", "start_sec", "end_sec", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(emitted == expected, s"missing=${expected -- emitted} extra=${emitted -- expected}")
  }

  test("streaming dedup: re-delivered file contributes no duplicate rows") {
    val d = Files.createTempDirectory("graft-dedup-stream")
    // The same events file delivered twice (re-upload / at-least-once).
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("events-0.parquet")
    )
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("events-0-redelivered.parquet")
    )
    val events = StreamingPipeline.readEvents(spark, d.toString)
    val q = StreamingPipeline
      .dedupStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT count(*) FROM dedup_stream").collect()(0).getLong(0)
    val distinct =
      spark.sql("SELECT count(DISTINCT event_id) FROM dedup_stream").collect()(0).getLong(0)
    assert(n == 1000L, s"each event exactly once, got $n")
    assert(distinct == n)
  }

  test("stream-stream interval join matches the batch range join") {
    val events = StreamingPipeline.readEvents(spark, streamDir)
    import org.apache.spark.sql.functions._
    val purchases = events.filter(col("event_type") === "purchase")
    val clicks = events.filter(col("event_type") === "click")
    val q = StreamingPipeline
      .intervalJoinStream(purchases, clicks)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("interval_join")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT count(*) FROM interval_join").collect()(0).getLong(0)
    val ev = queries.CoreQueries.events(spark, eventsDir)
    val batch = ev
      .filter(col("event_type") === "purchase")
      .select(col("ts").as("p_ts"))
      .join(
        ev.filter(col("event_type") === "click").select(col("ts").as("c_ts")),
        expr("c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts <= p_ts")
      )
      .count()
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed > 0, "fixture should produce interval matches")
  }

  test("stream-static enrichment matches the batch left join") {
    import org.apache.spark.sql.functions._
    val dim = spark.read
      .parquet(s"$eventsDir/events.parquet")
      .select(col("user_id"))
      .distinct()
      .filter(col("user_id").isNotNull && pmod(col("user_id"), lit(2)) === 0) // partial dim: left join must keep misses
      .withColumn("segment", pmod(col("user_id"), lit(5)))
    val events = StreamingPipeline.readEvents(spark, streamDir)
    val q = StreamingPipeline
      .enrichStream(events, dim)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("enriched")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark
      .sql("SELECT event_id, segment FROM enriched")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val batch = StreamingPipeline
      .enrichStream(spark.read.parquet(s"$eventsDir/events.parquet"), dim)
      .select(col("event_id"), col("segment"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(streamed == batch, "stream-static enrichment agrees with the batch join")
    assert(streamed.exists(_._2 == -1L), "fixture must exercise the miss (null) path")
  }

  test("checkpointed stream restarts from committed offsets: no reprocessing, no loss") {
    val d = Files.createTempDirectory("graft-resume-src")
    val cp = Files.createTempDirectory("graft-resume-cp").toString
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("batch-a.parquet")
    )
    def runOnce(name: String): Unit = {
      val q = StreamingPipeline
        .windowedCounts(StreamingPipeline.readEvents(spark, d.toString))
        .writeStream
        .option("checkpointLocation", cp)
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce("resume_1")
    val afterA = spark.sql("SELECT sum(n) FROM resume_1").collect()(0).getLong(0)
    assert(afterA == 1000L)
    // New file lands while the stream is DOWN; restart against the SAME
    // checkpoint must pick up exactly the new file — state carries the
    // old counts (sum grows by B only; reprocessing A would double it).
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("batch-b.parquet")
    )
    runOnce("resume_2")
    val afterB = spark.sql("SELECT sum(n) FROM resume_2").collect()(0).getLong(0)
    assert(afterB == 2000L, s"restart must add exactly batch B's rows, got $afterB")
  }

  test("streaming rollup state equals the batch aggregate of all delivered files") {
    import org.apache.spark.sql.functions._
    val d = Files.createTempDirectory("graft-rollup-src")
    val cp = Files.createTempDirectory("graft-rollup-cp").toString
    val state = Files.createTempDirectory("graft-rollup-state").toString + "/rollup.parquet"
    Files.copy(
      java.nio.file.Paths.get(s"$eventsDir/events.parquet"),
      d.resolve("f1.parquet")
    )
    val q = StreamingPipeline.incrementalRollup(spark, d.toString, state, cp)
    q.processAllAvailable()
    q.stop()
    val got = spark.read
      .parquet(state)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = spark.read
      .parquet(s"$eventsDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(
        sum(floor(col("value") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n")
      )
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want, "rollup state must equal the one-shot batch aggregate")
  }

  test("dedup ingest batches: cross-batch dedup, replay-idempotent, crash-recomputable") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dedup-ingest").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    def corpusIds: Seq[Long] =
      spark.read.parquet(corpus).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    val b0 = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
    StreamingPipeline.dedupIngestBatch(spark, b0, corpus, index, 0L)
    assert(corpusIds == Seq(1L, 2L), "in-batch dup keeps min id")

    val b1 = Seq((4L, "bb"), (5L, "cc"), (6L, "cc")).toDF("doc_id", "text")
    val n1 = StreamingPipeline.dedupIngestBatch(spark, b1, corpus, index, 1L)
    assert(n1 == 1L && corpusIds == Seq(1L, 2L, 5L), "cross-batch dup dropped via the index")

    StreamingPipeline.dedupIngestBatch(spark, b1, corpus, index, 1L) // replay
    assert(corpusIds == Seq(1L, 2L, 5L), "replayed batch must change nothing")

    // Crash simulation: a prior attempt of batch 2 wrote the INDEX
    // partition but died before the corpus write. The retry must still
    // accept the doc — the accepted set excludes the batch's own index
    // partition, so the half-applied attempt is invisible to it.
    val b2 = Seq((7L, "dd")).toDF("doc_id", "text")
    b2.withColumn("__h", org.apache.spark.sql.functions.md5($"text"))
      .select("__h")
      .write
      .parquet(s"$index/ingest_batch=2")
    val n2 = StreamingPipeline.dedupIngestBatch(spark, b2, corpus, index, 2L)
    assert(n2 == 1L && corpusIds == Seq(1L, 2L, 5L, 7L), "retry after mid-batch crash must land the doc")
  }

  test("ingest index self-compacts: partition count bounded, probes exact, latest batch replayable") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dedup-compact").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    def indexParts: Seq[String] =
      new java.io.File(index)
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
        .map(_.getName)
        .sorted
        .toSeq
    // 10 batches at threshold 3: without compaction, 10 partition dirs.
    (0L to 9L).foreach { i =>
      val b = Seq((i * 10 + 1, s"t$i"), (i * 10 + 2, s"t$i dup" + i)).toDF("doc_id", "text")
      StreamingPipeline.dedupIngestBatch(spark, b, corpus, index, i, maxIndexParts = 3)
    }
    assert(
      indexParts.length <= 4,
      s"partition fan-out must stay bounded at the threshold: $indexParts"
    )
    assert(indexParts.exists(_.startsWith("ingest_batch=-")), s"merged negative-id partition: $indexParts")
    // Probe exactness after merges: every previously accepted text is
    // still rejected, a fresh one accepted.
    val probe = Seq((900L, "t3"), (901L, "brand new")).toDF("doc_id", "text")
    val n = StreamingPipeline.dedupIngestBatch(spark, probe, corpus, index, 10L, maxIndexParts = 3)
    assert(n == 1L, "merged index must still reject all previously accepted hashes")
    val accepted10 = spark.read
      .parquet(s"$corpus/ingest_batch=10")
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(accepted10 == Set(901L), s"only the fresh doc lands: $accepted10")
    // Replay of the LATEST batch (the only one that can replay) after
    // its trigger-compacted index: identical accepted set.
    StreamingPipeline.dedupIngestBatch(spark, probe, corpus, index, 10L, maxIndexParts = 3)
    val replayed = spark.read
      .parquet(s"$corpus/ingest_batch=10")
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(replayed == Set(901L), s"replay after compaction converges: $replayed")
    // Total index content = distinct hashes of everything accepted.
    val hashes = spark.read.parquet(index).select("__h").distinct().count()
    val corpusN = spark.read.parquet(corpus).count()
    assert(hashes == corpusN, s"index holds one hash per accepted doc: $hashes vs $corpusN")
  }

  test("ingest index compaction: a crash between merge rename and victim deletes converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dedup-ccrash").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    (0L to 4L).foreach { i =>
      val b = Seq((i * 10 + 1, s"u$i")).toDF("doc_id", "text")
      // High threshold: no compaction yet — we fabricate the crash.
      StreamingPipeline.dedupIngestBatch(spark, b, corpus, index, i, maxIndexParts = 64)
    }
    // Fabricate: merged partition fully written (dup content of batches
    // 0-3), victims NOT deleted — the rename-before-delete window.
    spark.read
      .parquet((0L to 3L).map(i => s"$index/ingest_batch=$i"): _*)
      .select("__h")
      .distinct()
      .coalesce(1)
      .write
      .parquet(s"$index/ingest_batch=-1")
    // Duplicate hashes across partitions must not double-reject or
    // crash; a probe of known content is still rejected.
    val probe = Seq((800L, "u2"), (801L, "fresh one")).toDF("doc_id", "text")
    val n = StreamingPipeline.dedupIngestBatch(spark, probe, corpus, index, 5L, maxIndexParts = 3)
    assert(n == 1L, "duplicate index rows across partitions must stay harmless")
    // The trigger in that call swept the leftovers: victims merged away.
    val parts = new java.io.File(index)
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName)
      .toSeq
    assert(parts.length <= 4, s"sweep must merge the crash leftovers: $parts")
  }

  test("ingest index tiering: a settled merged partition is not rewritten by later triggers") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dedup-tiered").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    def partFiles(name: String): Map[String, Long] = {
      val d = new java.io.File(index, name)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length()).toMap
    }
    // Three BIG batches (400 docs each) trip the threshold on batch 3:
    // their merge becomes a genuinely large settled partition.
    (0L to 3L).foreach { i =>
      val rows =
        if (i < 3) (0 until 400).map(k => (i * 100000 + k, s"big batch $i doc $k body"))
        else Seq((300000L, "small 3"))
      StreamingPipeline.dedupIngestBatch(spark, rows.toDF("doc_id", "text"), corpus, index, i, maxIndexParts = 3)
    }
    val settled = partFiles("ingest_batch=-1")
    assert(settled.nonEmpty, "big batches must have merged into ingest_batch=-1")
    // Trickle small batches past the threshold again: the new merge
    // must peel the settled partition (byte-identical files) and fold
    // only the smalls into a FRESH negative id.
    (4L to 6L).foreach { i =>
      val b = Seq((400000L + i, s"small $i")).toDF("doc_id", "text")
      StreamingPipeline.dedupIngestBatch(spark, b, corpus, index, i, maxIndexParts = 3)
    }
    assert(
      partFiles("ingest_batch=-1") == settled,
      "settled partition must survive later triggers byte-identical"
    )
    val freshMerged = new java.io.File(index)
      .listFiles()
      .map(_.getName)
      .filter(_.startsWith("ingest_batch=-"))
      .map(_.stripPrefix("ingest_batch=").toLong)
      .filter(_ < -1L)
    assert(freshMerged.nonEmpty, "smalls merge under fresh negative ids below the settled -1")
    // Probe exactness across tiers: known content rejected, fresh kept.
    val probe = Seq((900000L, "big batch 1 doc 7 body"), (900001L, "small 5"), (900002L, "new")).toDF("doc_id", "text")
    val n = StreamingPipeline.dedupIngestBatch(spark, probe, corpus, index, 7L, maxIndexParts = 3)
    assert(n == 1L, "tiered index must reject hashes from every tier")
    val hashes = spark.read.parquet(index).select("__h").distinct().count()
    val corpusN = spark.read.parquet(corpus).count()
    assert(hashes == corpusN, s"index holds one hash per accepted doc: $hashes vs $corpusN")
  }

  test("streaming dedup ingest end-to-end: files stream in, corpus stays dup-free") {
    val root = Files.createTempDirectory("graft-dedup-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val docsSchema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)
      )
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      """{"doc_id":1,"text":"alpha"}
        |{"doc_id":2,"text":"beta"}""".stripMargin
    )
    val q1 = StreamingPipeline.dedupIngest(spark, raw, s"$root/corpus", s"$root/index", s"$root/ckpt", docsSchema)
    q1.awaitTermination(60000)
    // A later file re-delivers one known text and brings one new one.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      """{"doc_id":3,"text":"alpha"}
        |{"doc_id":4,"text":"gamma"}""".stripMargin
    )
    val q2 = StreamingPipeline.dedupIngest(spark, raw, s"$root/corpus", s"$root/index", s"$root/ckpt", docsSchema)
    q2.awaitTermination(60000)
    val rows = spark.read
      .parquet(s"$root/corpus")
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(rows == Set((1L, "alpha"), (2L, "beta"), (4L, "gamma")), s"got $rows")
  }

  test("streaming cardinality ingest: sketch state tracks distinct tokens exactly-once") {
    val root = Files.createTempDirectory("graft-card-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val docsSchema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)
      )
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      """{"doc_id":1,"lang":"en","text":"a b c"}
        |{"doc_id":2,"lang":"de","text":"x y"}""".stripMargin
    )
    val state = s"$root/card.parquet"
    StreamingPipeline
      .cardinalityIngest(spark, raw, state, s"$root/ckpt", docsSchema)
      .awaitTermination(60000)
    // second file overlaps en's vocabulary and adds one new token
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      """{"doc_id":3,"lang":"en","text":"b c d"}""".stripMargin
    )
    StreamingPipeline
      .cardinalityIngest(spark, raw, state, s"$root/ckpt", docsSchema)
      .awaitTermination(60000)
    // restart with NO new files: replay window must not inflate anything
    StreamingPipeline
      .cardinalityIngest(spark, raw, state, s"$root/ckpt", docsSchema)
      .awaitTermination(60000)
    val got = graft.operators.Maintenance
      .cardinalityEstimates(spark, state)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // at this size the HLL is in exact coupon mode: estimates are exact
    assert(got == Map("en" -> (4L, 6L), "de" -> (2L, 2L)), s"got $got")
  }

  test("streaming preference ingest maintains the pair state across files; drained restart no-ops") {
    val root = Files.createTempDirectory("graft-pref-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val respSchema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("prompt_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.LongType)
      )
    )
    def run(): Unit =
      StreamingPipeline
        .prefIngest(spark, raw, s"$root/state", s"$root/ckpt", respSchema)
        .awaitTermination(60000)
    // file 1: prompt 1 gets (10, s5) and (11, s9); prompt 2 a single response
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      """{"prompt_id":1,"doc_id":10,"score":5}
        |{"prompt_id":1,"doc_id":11,"score":9}
        |{"prompt_id":2,"doc_id":20,"score":4}""".stripMargin
    )
    run()
    val after1 = graft.operators.Preference
      .pairsFromState(spark, s"$root/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after1 == Set((1L, 11L, 10L)), s"got $after1")
    // file 2: a later sampling run beats prompt 1's chosen and gives
    // prompt 2 its rejected
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      """{"prompt_id":1,"doc_id":12,"score":14}
        |{"prompt_id":2,"doc_id":21,"score":1}""".stripMargin
    )
    run()
    val after2 = graft.operators.Preference
      .pairsFromState(spark, s"$root/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after2 == Set((1L, 12L, 10L), (2L, 20L, 21L)), s"got $after2")
    // drained restart: replay window must not change the state
    run()
    val after3 = graft.operators.Preference
      .pairsFromState(spark, s"$root/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after3 == after2)
  }

  test("streaming near-dup ingest flags cross-file near-dups via the persistent index") {
    val root = Files.createTempDirectory("graft-neardup-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val docsSchema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)
      )
    )
    val base =
      "the quick brown fox jumps over the lazy dog while seventeen astronauts " +
        "carefully measure gravitational anomalies near the southern observatory plateau"
    def run(): Unit = {
      val q = StreamingPipeline
        .nearDupIngest(spark, raw, s"$root/index", s"$root/pairs", s"$root/ckpt", docsSchema)
      q.awaitTermination(60000)
    }
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"$base"}"""
    )
    run()
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":2,"text":"${base.replace("lazy", "sleepy")}"}"""
    )
    run()
    val pairs = spark.read
      .parquet(s"$root/pairs")
      .select("doc_a", "doc_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((2L, 1L)), s"the second file's variant must hit the indexed base doc, got $pairs")
    assert(spark.read.parquet(s"$root/index").count() == 2, "one signature row per doc")
  }

  test("semantic dedup ingest batches: index dups, greedy chain, replay-idempotent, crash-recomputable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-semdedup-ingest").toString
    val (idx, drops) = (s"$root/ivf", s"$root/drops")
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // 2-D unit vectors; minCos = 0.99 is an 8.1-degree radius, so the
    // geometry below has >=0.005 cosine margin on every decision.
    val base = Seq((0L, vec(0)), (1L, vec(10)), (100L, vec(90)), (101L, vec(80)))
      .toDF("vec_id", "emb")
    graft.operators.VectorIndex.build(spark, base, idx, isCentroid = col("vec_id") % 100 === 0)
    def indexedIds: Seq[Long] =
      spark.read.parquet(s"$idx/assignments").select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    def dropsOf(batchId: Long): Set[(Long, Long)] =
      spark.read
        .parquet(s"$drops/ingest_batch=$batchId")
        .select("vec_id", "dup_of")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet

    // Batch 0: 200 dups indexed vector 0 (cos 2 deg = .9994; the weaker
    // neighbor 1 at cos 8 deg also passes — dup_of must pick the
    // strongest). 201/202/203 are a within-batch chain: 201~202 (4 deg)
    // and 202~203 (5 deg) pass, 201~203 (9 deg) does not.
    val b0 = Seq((200L, vec(2)), (201L, vec(44)), (202L, vec(40)), (203L, vec(35)))
      .toDF("vec_id", "emb")
    val n0 = StreamingPipeline.semanticDedupIngestBatch(spark, b0, idx, drops, 0L, minCos = 0.99)
    assert(n0 == 1L, s"only 201 survives batch 0, got $n0")
    assert(indexedIds == Seq(0L, 1L, 100L, 101L, 201L))
    // The greedy contract, pinned: dup_of is the strongest SMALLER-ID
    // batch near-neighbor, so 203's dup_of is 202 — itself a dropped
    // row, not the transitive survivor 201 (the q32 rule).
    assert(dropsOf(0L) == Set((200L, 0L), (202L, 201L), (203L, 202L)), s"got ${dropsOf(0L)}")

    // Batch 1: 300 is a CROSS-BATCH dup of batch-0 survivor 201 via the
    // persistent index (cos 2 deg); 301 is fresh in the other cluster.
    val b1 = Seq((300L, vec(42)), (301L, vec(60))).toDF("vec_id", "emb")
    val n1 = StreamingPipeline.semanticDedupIngestBatch(spark, b1, idx, drops, 1L, minCos = 0.99)
    assert(n1 == 1L && indexedIds == Seq(0L, 1L, 100L, 101L, 201L, 301L))
    assert(dropsOf(1L) == Set((300L, 201L)), s"got ${dropsOf(1L)}")

    // Replay of an applied batch: the probe excludes the batch's own
    // vec_ids (so 301 does not collide with its indexed copy), the
    // append anti-joins it away, the telemetry overwrite is identical —
    // index and telemetry converge to the same state, accepted count
    // and all (the exactly-once contract).
    val nReplay = StreamingPipeline.semanticDedupIngestBatch(spark, b1, idx, drops, 1L, minCos = 0.99)
    assert(nReplay == 1L, "replay reports the same accepted count")
    assert(indexedIds == Seq(0L, 1L, 100L, 101L, 201L, 301L), "replayed batch must not grow the index")
    assert(dropsOf(1L) == Set((300L, 201L)), "replayed telemetry is identical")

    // Crash between the index append and the telemetry write: a prior
    // attempt of batch 2 appended its survivor (400) and died. The
    // retry must recompute to the same state — 400 not double-indexed,
    // 401 still dropped against the PRE-batch index, telemetry written.
    val b2 = Seq((400L, vec(20)), (401L, vec(2))).toDF("vec_id", "emb")
    graft.operators.VectorIndex.append(spark, Seq((400L, vec(20))).toDF("vec_id", "emb"), idx)
    val n2 = StreamingPipeline.semanticDedupIngestBatch(spark, b2, idx, drops, 2L, minCos = 0.99)
    assert(n2 == 1L, s"retry accepts exactly the survivor, got $n2")
    assert(indexedIds == Seq(0L, 1L, 100L, 101L, 201L, 301L, 400L), "no double-insert after the crash retry")
    assert(dropsOf(2L) == Set((401L, 0L)), s"got ${dropsOf(2L)}")
  }

  test("semantic dedup ingest: resolveSurvivors names the transitive survivor, not the chain hop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-semdedup-surv").toString
    val (idx, drops) = (s"$root/ivf", s"$root/drops")
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (100L, vec(90))).toDF("vec_id", "emb")
    graft.operators.VectorIndex.build(spark, base, idx, isCentroid = col("vec_id") % 100 === 0)
    // 200 dups the indexed 0 (terminal already); 201/202/203 form the
    // greedy chain of the pinned contract test: 203->202->201, with 201
    // the actual survivor.
    val b0 = Seq((200L, vec(2)), (201L, vec(44)), (202L, vec(40)), (203L, vec(35)))
      .toDF("vec_id", "emb")
    val n = StreamingPipeline
      .semanticDedupIngestBatch(spark, b0, idx, drops, 0L, minCos = 0.99, resolveSurvivors = true)
    assert(n == 1L)
    val rows = spark.read
      .parquet(s"$drops/ingest_batch=0")
      .select("vec_id", "dup_of", "survivor")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // dup_of keeps the greedy nearest-cause contract; survivor resolves
    // the chain: 203's cause is 202 (dropped) but its survivor is 201.
    assert(
      rows == Set((200L, 0L, 0L), (202L, 201L, 201L), (203L, 202L, 201L)),
      s"got $rows"
    )
  }

  test("streaming semantic dedup ingest end-to-end: cross-file dups drop via the persistent index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-semdedup-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    def js(deg: Double) = s"[${vec(deg).mkString(",")}]"
    val base = Seq((0L, vec(0)), (100L, vec(90))).toDF("vec_id", "emb")
    graft.operators.VectorIndex.build(spark, base, s"$root/ivf", isCentroid = col("vec_id") % 100 === 0)
    def run(): Unit =
      StreamingPipeline
        .semanticDedupIngest(spark, raw, s"$root/ivf", s"$root/drops", s"$root/ckpt", graft.schemas.Schemas.embeddingIngest)
        .awaitTermination(60000)
    // File 1: two fresh vectors, far from the base and each other
    // (default minCos 0.995 is a 5.7-degree radius).
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"vec_id":10,"embedding":${js(30)}}
         |{"vec_id":11,"embedding":${js(60)}}""".stripMargin
    )
    run()
    // File 2: 12 is a 1-degree variant of file 1's vector 10 (cross-FILE
    // semantic dup, detectable only through the durable index); 13 is new.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"vec_id":12,"embedding":${js(31)}}
         |{"vec_id":13,"embedding":${js(70)}}""".stripMargin
    )
    run()
    val ids = spark.read
      .parquet(s"$root/ivf/assignments")
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(ids == Set(0L, 100L, 10L, 11L, 13L), s"corpus must stay semantically dup-free, got $ids")
    val drops = spark.read
      .parquet(s"$root/drops")
      .select("vec_id", "dup_of")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(drops == Set((12L, 10L)), s"the cross-file dup must be the only drop, got $drops")
  }

  test("streaming curation end-to-end: gate, cross-file span clean, cross-file dedup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-curate-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    // Model frozen from a reference whose vocabulary covers the stream:
    // u/v/w tokens seen often (low surprisal); z tokens absent (OOV).
    val ref = (1 to 10)
      .map(i => (i.toLong, "u1 u2 u3 u4 u5 u6 u7 u8 v1 v2 w1 w2"))
      .toDF("doc_id", "text")
    graft.operators.QualityModel.build(spark, ref, "doc_id", "text", s"$root/lm")
    def run(): Unit =
      StreamingPipeline
        .curateIngestStream(
          spark, raw, s"$root/lm", s"$root/spans", s"$root/index", s"$root/out",
          s"$root/ckpt", graft.schemas.Schemas.documentIngest
        )
        .awaitTermination(60000)
    // File 1: doc 100 is in-vocab and unique (survives); doc 101 is
    // pure OOV (gate rejects).
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":100,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"}
         |{"doc_id":101,"text":"z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"}""".stripMargin
    )
    run()
    // File 2: doc 200 re-sends doc 100's text — every span is in the
    // durable state, the clean text empties, the floor drops it. Doc
    // 201 embeds doc 100's FULL text as its prefix (cross-FILE span,
    // detectable only through the durable state) with an in-model tail
    // — one OOV bigram (w2,u1) out of 13 keeps it under the gate's
    // 4.4-bit average, and the cleaned doc is exactly the tail.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":200,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"}
         |{"doc_id":201,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2 w1 w2 u1 u2"}""".stripMargin
    )
    run()
    val out = spark.read
      .parquet(s"$root/out")
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(out.keySet == Set(100L, 201L), s"gate + cross-file curation survivors: ${out.keySet}")
    assert(out(100L) == "u1 u2 u3 u4 u5 u6 u7 u8 v1 v2", "unique in-vocab doc intact")
    assert(
      out(201L) == "w1 w2 u1 u2",
      s"cross-file shared prefix cut, exact tail kept: '${out(201L)}'"
    )
    // Drained-source restart adds nothing.
    run()
    assert(
      spark.read.parquet(s"$root/out").count() == 2L,
      "restart on a drained source must not re-curate"
    )
  }

  test("curation→packing chain end-to-end: raw files → curate → pack consumer → pack window read") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-chain").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    // Same fixture as the curation e2e: doc 100 survives intact, 101
    // is gated (OOV), 200 span-cleans to nothing, 201 keeps its tail.
    val ref = (1 to 10)
      .map(i => (i.toLong, "u1 u2 u3 u4 u5 u6 u7 u8 v1 v2 w1 w2"))
      .toDF("doc_id", "text")
    graft.operators.QualityModel.build(spark, ref, "doc_id", "text", s"$root/lm")
    def curate(): Unit =
      StreamingPipeline
        .curateIngestStream(
          spark, raw, s"$root/lm", s"$root/spans", s"$root/index", s"$root/out",
          s"$root/ckpt", graft.schemas.Schemas.documentIngest
        )
        .awaitTermination(60000)
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":100,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"}
         |{"doc_id":101,"text":"z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"}""".stripMargin
    )
    curate()
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":200,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"}
         |{"doc_id":201,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2 w1 w2 u1 u2"}""".stripMargin
    )
    curate()
    // Chain consumer: AvailableNow drain AFTER the curator's (the
    // documented discipline), 8-token budget so the survivors tile
    // two packs.
    def packRun(): Unit =
      StreamingPipeline
        .packCuratedStream(
          spark, s"$root/out", s"$root/packstate", s"$root/manifests", s"$root/pckpt",
          budget = 8L, nShards = 4
        )
        .awaitTermination(60000)
    packRun()
    // Loader: the full pack window over the chain's output. Survivors
    // are doc 100 (10 tokens, original text) and doc 201 (4 tokens,
    // span-cleaned tail) → 14 tokens → packs 0 (full) and 1 (6 toks).
    val curated = spark.read.parquet(s"$root/out").select("doc_id", "text")
    val slices = graft.operators.Packing
      .materializePacks(
        spark, s"$root/packstate", s"$root/manifests", curated,
        "doc_id", "text", 0L, 2L, 8L
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(slices.length == 14, s"14 curated tokens across the window: ${slices.length}")
    val perDoc = slices.groupBy(_._3).view.mapValues(_.length).toMap
    assert(perDoc == Map(100L -> 10, 201L -> 4), s"per-doc token counts: $perDoc")
    val gpos = slices.map(t => t._1 * 8 + t._2).sorted.toSeq
    assert(gpos == (0L until 14L), s"packs tile the curated stream contiguously: $gpos")
    // Doc 201 contributes exactly its span-cleaned tail, in order.
    val tail201 = slices.filter(_._3 == 201L).sortBy(t => t._1 * 8 + t._2).map(_._4).toSeq
    assert(tail201 == Seq("w1", "w2", "u1", "u2"), s"cleaned tail packed verbatim: $tail201")
    // Drained restart packs nothing new: same manifests, same state rows.
    val manifestsBefore = new java.io.File(s"$root/manifests").listFiles().map(_.getName).toSet
    packRun()
    val manifestsAfter = new java.io.File(s"$root/manifests").listFiles().map(_.getName).toSet
    assert(manifestsAfter == manifestsBefore, "drained chain restart must not re-pack")
  }

  test("streaming span dedup ingest end-to-end: cross-file spans detected via the state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spandedup-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    def run(): Unit =
      StreamingPipeline
        .spanDedupIngest(spark, raw, s"$root/spans", s"$root/ext", s"$root/ckpt", graft.schemas.Schemas.documentIngest)
        .awaitTermination(60000)
    // File 1: docs 1/2 share the 7-token X-run — a within-batch extent.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"}
         |{"doc_id":2,"text":"b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7"}""".stripMargin
    )
    run()
    // File 2: doc 10 shares the run ONLY with file 1's corpus — a
    // cross-FILE span, detectable only through the durable state.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":10,"text":"c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7"}
         |{"doc_id":11,"text":"d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"}""".stripMargin
    )
    run()
    val ext = spark.read
      .parquet(s"$root/ext")
      .select(col("ingest_batch").cast("long"), col("doc_id"), col("start_pos"), col("end_pos"), col("n_tokens"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    assert(
      ext == Set((0L, 1L, 3, 9, 7L), (0L, 2L, 2, 8, 7L), (1L, 10L, 1, 7, 7L)),
      s"per-batch extents: $ext"
    )
    // Restart against the same checkpoint: no files left, nothing changes.
    run()
    assert(
      spark.read.parquet(s"$root/ext").count() == 3,
      "restart with a drained source must add nothing"
    )
  }

  test("span dedup ingest: an empty batch writes empty telemetry, never touches the state") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spandedup-empty").toString
    // Seed the state with one applied batch.
    StreamingPipeline.spanDedupIngestBatch(
      spark,
      Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8")).toDF("doc_id", "text"),
      s"$root/spans",
      s"$root/ext",
      0L
    )
    val stateFiles = new java.io.File(s"$root/spans").listFiles().map(_.getName).toSet
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val n = StreamingPipeline.spanDedupIngestBatch(spark, empty, s"$root/spans", s"$root/ext", 1L)
    assert(n == 0L, "empty batch yields no extents")
    assert(
      spark.read.parquet(s"$root/ext/ingest_batch=1").count() == 0,
      "telemetry partition exists and is empty"
    )
    assert(
      new java.io.File(s"$root/spans").listFiles().map(_.getName).toSet == stateFiles,
      "an idle firing must not rewrite the corpus-scale state"
    )
  }

  test("maintenance CLI verb curate_stream drains a raw dir through the curation states") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-curate-cli-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val ref = (1 to 10)
      .map(i => (i.toLong, "u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"))
      .toDF("doc_id", "text")
    graft.operators.QualityModel.build(spark, ref, "doc_id", "text", s"$root/lm")
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":100,"text":"u1 u2 u3 u4 u5 u6 u7 u8 v1 v2"}
         |{"doc_id":101,"text":"z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"}""".stripMargin
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "curate_stream",
        "--raw", raw,
        "--model", s"$root/lm",
        "--span_state", s"$root/spans",
        "--index", s"$root/index",
        "--out", s"$root/out",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/out").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(100L), s"in-vocab unique doc curated, OOV doc gated out: $out")
    assert(spark.read.parquet(s"$root/spans").count() > 0, "span state folded")
  }

  test("maintenance CLI verb span_dedup_ingest drains a raw dir against the state") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spandedup-cli").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"}
         |{"doc_id":2,"text":"b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7"}""".stripMargin
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "span_dedup_ingest",
        "--raw", raw,
        "--state", s"$root/spans",
        "--out", s"$root/ext",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    val ext = spark.read
      .parquet(s"$root/ext")
      .select("doc_id", "start_pos", "end_pos", "n_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(ext == Set((1L, 3, 9, 7L), (2L, 2, 8, 7L)), s"CLI extents: $ext")
    assert(spark.read.parquet(s"$root/spans").count() > 0, "state folded")
  }

  test("semantic dedup ingest: an empty batch is a no-op with empty telemetry") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-semdedup-empty").toString
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (100L, vec(90))).toDF("vec_id", "emb")
    graft.operators.VectorIndex.build(spark, base, s"$root/ivf", isCentroid = col("vec_id") % 100 === 0)
    val before = spark.read.parquet(s"$root/ivf/assignments").count()
    // Streams deliver empty micro-batches routinely (idle trigger
    // firings, filtered-out files) — the ingest must not throw on the
    // empty probed-cluster set, must not touch the index, and must
    // still overwrite its telemetry partition (so a replayed empty
    // batch stays idempotent too).
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "emb")
    val n = StreamingPipeline.semanticDedupIngestBatch(spark, empty, s"$root/ivf", s"$root/drops", 0L, minCos = 0.99)
    assert(n == 0L, "empty batch accepts nothing")
    assert(spark.read.parquet(s"$root/ivf/assignments").count() == before, "index untouched")
    assert(
      spark.read.parquet(s"$root/drops/ingest_batch=0").count() == 0,
      "telemetry partition exists and is empty"
    )
  }

  test("maintenance CLI verb semantic_dedup_ingest drains a raw dir through the index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = Files.createTempDirectory("graft-semdedup-cli").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (100L, vec(90))).toDF("vec_id", "emb")
    graft.operators.VectorIndex.build(spark, base, s"$root/ivf", isCentroid = col("vec_id") % 100 === 0)
    // 10 is a 1-degree variant of indexed vector 0 (drops at the 0.995
    // default); 11 is fresh.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"vec_id":10,"embedding":[${vec(1).mkString(",")}]}
         |{"vec_id":11,"embedding":[${vec(45).mkString(",")}]}""".stripMargin
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "semantic_dedup_ingest",
        "--raw", raw,
        "--index", s"$root/ivf",
        "--drops", s"$root/drops",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    val ids = spark.read
      .parquet(s"$root/ivf/assignments")
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(ids == Set(0L, 100L, 11L), s"CLI ingest must drop the dup and append the survivor, got $ids")
    val drops = spark.read
      .parquet(s"$root/drops")
      .select("vec_id", "dup_of")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(drops == Set((10L, 0L)), s"got $drops")
  }

  test("incremental foreachBatch pipeline writes users+time tables") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    val line =
      """{"artist":"A","auth":"Logged In","firstName":"F","gender":"F","itemInSession":1,"lastName":"L","length":100.0,"level":"paid","location":"X","method":"PUT","page":"NextSong","registration":1.5E12,"sessionId":1,"song":"S","status":200,"ts":1542241826796.0,"userAgent":"M","userId":"7"}"""
    Files.writeString(java.nio.file.Paths.get(s"$raw/f1.json"), line)
    val q = StreamingPipeline.incrementalTables(spark, raw, s"$root/out", s"$root/ckpt")
    q.awaitTermination(60000)
    val users = spark.read.parquet(s"$root/out/users_table.parquet")
    assert(users.count() == 1)
    assert(users.collect()(0).getAs[String]("user_id") == "7")
  }

  test("pack stream: arriving files pack after everything already packed; drained restart adds nothing") {
    val root = Files.createTempDirectory("graft-pack-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_stream",
        "--raw", raw,
        "--state", s"$root/st",
        "--out", s"$root/m",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"a b"}
         |{"doc_id":2,"text":"c d e"}
         |{"doc_id":3,"text":"f g h i"}""".stripMargin
    )
    run()
    val b0 = spark.read.parquet(s"$root/m/pack_batch=0")
    assert(b0.count() == 3)
    // second file arrives; a NEW run against the same checkpoint packs
    // it as batch 1, offset past batch 0's 9 tokens
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":10,"text":"x y z"}
         |{"doc_id":11,"text":"p q"}""".stripMargin
    )
    run()
    val all = spark.read
      .option("basePath", s"$root/m")
      .parquet(s"$root/m")
      .select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("start_tok"), org.apache.spark.sql.functions.col("n_toks"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(all.length == 5)
    assert(all.head._2 == 0L)
    all.sliding(2).foreach {
      case Array((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1, "stream tiling broken")
      case _                              => ()
    }
    val b1Min = spark.read
      .parquet(s"$root/m/pack_batch=1")
      .agg(org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("start_tok")))
      .collect()
      .head
      .getLong(0)
    assert(b1Min == 9L, "batch 1 must start at batch 0's total")
    // drained restart: nothing arrives, nothing changes
    run()
    assert(
      spark.read.option("basePath", s"$root/m").parquet(s"$root/m").count() == 5,
      "restart with a drained source must add nothing"
    )
  }

  test("stratified pack stream: each domain tiles its own stream across arriving files") {
    val root = Files.createTempDirectory("graft-packby-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_stream_by",
        "--raw", raw,
        "--state", s"$root/st",
        "--out", s"$root/m",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"source":"web","text":"a b"}
         |{"doc_id":2,"source":"wiki","text":"c d e"}
         |{"doc_id":3,"source":"web","text":"f g h i"}""".stripMargin
    )
    run()
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":10,"source":"web","text":"x y z"}
         |{"doc_id":11,"source":"books","text":"p q"}""".stripMargin
    )
    run()
    val all = spark.read
      .option("basePath", s"$root/m")
      .parquet(s"$root/m")
      .select(
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("start_tok"),
        org.apache.spark.sql.functions.col("n_toks")
      )
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(all.length == 5)
    // per-domain streams tile independently from 0: web = 2+4 tokens
    // in batch 0, so its batch-1 doc starts at 6; wiki stays at 0;
    // books (new in batch 1) starts its own stream at 0
    all.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"$src must start at 0")
      sorted.sliding(2).foreach {
        case Array((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1, s"$src tiling broken")
        case _                              => ()
      }
    }
    assert(all.filter(_._1 == "web").map(_._2).max == 6L, "web batch 1 starts at its own total")
    assert(all.count(_._1 == "books") == 1 && all.filter(_._1 == "books").head._2 == 0L)
    // drained restart adds nothing
    run()
    assert(spark.read.option("basePath", s"$root/m").parquet(s"$root/m").count() == 5)
  }

  test("fertility stream: per-file per-source drift telemetry under the frozen model") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fert-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    // freeze a model on a training slice: merges will fire on "low",
    // "lower" shapes but not on drifted gibberish
    graft.operators.Bpe.buildModel(
      spark,
      Seq((0L, "low lower lowest low low wide wider")).toDF("doc_id", "text"),
      "text",
      s"$root/model",
      numMerges = 6
    )
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "fertility_stream",
        "--raw", raw,
        "--model", s"$root/model",
        "--out", s"$root/telemetry",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"source":"web","text":"low lower"}
         |{"doc_id":2,"source":"web","text":"low wide"}
         |{"doc_id":3,"source":"spamnet","text":"zzqk xvjw qqpz"}""".stripMargin
    )
    run()
    val merges = graft.operators.Bpe.loadMerges(spark, s"$root/model")
    val b0 = spark.read
      .option("basePath", s"$root/telemetry")
      .parquet(s"$root/telemetry")
      .collect()
      .map(r =>
        (
          r.getAs[String]("source"),
          r.getAs[Long]("n_docs"),
          r.getAs[Long]("sum_ws"),
          r.getAs[Long]("sum_bpe"),
          r.getAs[Long]("fert_milli")
        )
      )
      .toSeq
      .sortBy(_._1)
    assert(b0.map(t => (t._1, t._2, t._3)) == Seq(("spamnet", 1L, 3L), ("web", 2L, 4L)))
    // the drifted domain's fertility must exceed the in-distribution
    // one — the signal the dashboard exists for
    val fert = b0.map(t => t._1 -> t._5).toMap
    assert(fert("spamnet") > fert("web"), s"drifted domain must show higher fertility: $fert")
    // telemetry equals the batch-verb computation under the same table
    val direct = graft.operators.Bpe
      .segmentCounts(
        Seq((1L, "low lower"), (2L, "low wide"), (3L, "zzqk xvjw qqpz")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        merges
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toMap
    assert(b0.map(_._4).sum == direct.values.sum, "stream totals must equal the batch scorer")
    // a second file lands as its own batch partition; drained restart
    // then adds nothing
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":10,"source":"web","text":"lowest wider"}""".stripMargin
    )
    run()
    val batches = new java.io.File(s"$root/telemetry")
      .listFiles()
      .count(_.getName.startsWith("ingest_batch="))
    assert(batches == 2, "each file's telemetry lands batch-keyed")
    run()
    assert(
      new java.io.File(s"$root/telemetry")
        .listFiles()
        .count(_.getName.startsWith("ingest_batch=")) == 2,
      "drained restart must write no telemetry"
    )
  }

  test("decontam stream: per-file eval-overlap telemetry against the pinned benchmark") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-decontam-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    Seq((100L, "a b c d")).toDF("doc_id", "text").write.parquet(s"$root/eval")
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontam_stream",
        "--raw", raw,
        "--eval", s"$root/eval",
        "--out", s"$root/telemetry",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"a b c d e"}
         |{"doc_id":2,"text":"p q r s t"}""".stripMargin
    )
    run()
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":3,"text":"x y a b c"}""".stripMargin
    )
    run()
    val tel = spark.read
      .option("basePath", s"$root/telemetry")
      .parquet(s"$root/telemetry")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("doc_id"),
          (r.getAs[Long]("n_overlap"), r.getAs[Boolean]("contaminated"),
            r.getAs[Number]("ingest_batch").longValue)
        )
      )
      .toMap
    // file 1: doc 1 contaminated (2/3), doc 2 disjoint -> absent;
    // file 2: doc 3 reported sub-threshold (1/3). Each in ITS batch.
    assert(tel.keySet == Set(1L, 3L))
    assert(tel(1L)._1 == 2L && tel(1L)._2)
    assert(tel(3L)._1 == 1L && !tel(3L)._2)
    assert(tel(1L)._3 != tel(3L)._3, "each file reports under its own batch id")
    // the streamed reports equal the batch op over the same docs
    val direct = graft.operators.Dedup
      .decontamPurge(
        Seq((1L, "a b c d e"), (2L, "p q r s t"), (3L, "x y a b c")).toDF("doc_id", "text"),
        spark.read.parquet(s"$root/eval"),
        "doc_id",
        "text"
      )
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Long]("n_overlap"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(tel.view.mapValues(v => (v._1, v._2)).toMap == direct)
    // drained restart: no new files, no new partitions
    val before = spark.read.parquet(s"$root/telemetry").count()
    run()
    assert(spark.read.parquet(s"$root/telemetry").count() == before)
  }

  test("decontam fuzzy stream: per-file attributed near-dup telemetry") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-decontam-fuzzy-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    Seq((100L, "a b c d e f g h i j"), (200L, "p q r s t u v w x y"))
      .toDF("doc_id", "text")
      .write
      .parquet(s"$root/eval")
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontam_fuzzy_stream",
        "--raw", raw,
        "--eval", s"$root/eval",
        "--out", s"$root/telemetry",
        "--checkpoint", s"$root/ckpt"
      ),
      spark
    )
    // file 1: doc 1 is an exact copy of eval 100 (identical minhash
    // signature -> every band collides, J = 1.0); doc 2 is disjoint.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"doc_id":1,"text":"a b c d e f g h i j"}
         |{"doc_id":2,"text":"m n o k l z m n o k"}""".stripMargin
    )
    run()
    // file 2: doc 3 copies the OTHER eval item.
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"doc_id":3,"text":"p q r s t u v w x y"}""".stripMargin
    )
    run()
    val tel = spark.read
      .option("basePath", s"$root/telemetry")
      .parquet(s"$root/telemetry")
      .collect()
      .map(r =>
        (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("n_cand"), r.getAs[Long]("n_matched"),
            r.getAs[Double]("max_jaccard"), r.getAs[Boolean]("contaminated"),
            r.getAs[Number]("ingest_batch").longValue)))
      .toMap
    assert(tel.keySet == Set(1L, 3L), s"only the two copies collide: $tel")
    assert(tel(1L)._1 == 1L && tel(1L)._2 == 1L && tel(1L)._3 == 1.0 && tel(1L)._4)
    assert(tel(3L)._1 == 1L && tel(3L)._2 == 1L && tel(3L)._3 == 1.0 && tel(3L)._4)
    assert(tel(1L)._5 != tel(3L)._5, "each file reports under its own batch id")
    // the streamed reports equal the batch operator over the same docs
    val direct = graft.operators.Dedup
      .decontamFuzzy(
        Seq((1L, "a b c d e f g h i j"), (2L, "m n o k l z m n o k"), (3L, "p q r s t u v w x y"))
          .toDF("doc_id", "text"),
        spark.read.parquet(s"$root/eval"),
        "doc_id",
        "text"
      )
      .collect()
      .map(r =>
        (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("n_cand"), r.getAs[Long]("n_matched"),
            r.getAs[Double]("max_jaccard"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(tel.view.mapValues(v => (v._1, v._2, v._3, v._4)).toMap == direct)
    // drained restart: no new files, no new partitions
    val before = spark.read.parquet(s"$root/telemetry").count()
    run()
    assert(spark.read.parquet(s"$root/telemetry").count() == before)
  }

  test("decontam semantic stream: per-file best-cosine telemetry against the pinned eval matrix") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-decontam-sem-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    Seq((100L, Seq(1.0, 0.0, 0.0)), (200L, Seq(0.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
      .write
      .parquet(s"$root/eval")
    def run(): Unit = graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontam_semantic_stream",
        "--raw", raw,
        "--eval", s"$root/eval",
        "--out", s"$root/telemetry",
        "--checkpoint", s"$root/ckpt",
        "--threshold", "0.9"
      ),
      spark
    )
    // file 1: vec 1 copies eval 100 (cos 1.0), vec 2 is orthogonal to both
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f1.json"),
      s"""{"vec_id":1,"embedding":[1.0,0.0,0.0]}
         |{"vec_id":2,"embedding":[0.0,0.0,1.0]}""".stripMargin
    )
    run()
    // file 2: vec 3 copies eval 200
    Files.writeString(
      java.nio.file.Paths.get(s"$raw/f2.json"),
      s"""{"vec_id":3,"embedding":[0.0,1.0,0.0]}""".stripMargin
    )
    run()
    val tel = spark.read
      .option("basePath", s"$root/telemetry")
      .parquet(s"$root/telemetry")
      .collect()
      .map(r =>
        (r.getAs[Long]("vec_id"),
          (r.getAs[Long]("best_eval_id"), r.getAs[Double]("best_cosine"),
            r.getAs[Boolean]("contaminated"), r.getAs[Number]("ingest_batch").longValue)))
      .toMap
    assert(tel.keySet == Set(1L, 2L, 3L), "the audit reports every arriving vector")
    assert(tel(1L)._1 == 100L && tel(1L)._2 == 1.0 && tel(1L)._3)
    assert(tel(2L)._1 == 100L && tel(2L)._2 == 0.0 && !tel(2L)._3, "orthogonal ties to smaller id, clean")
    assert(tel(3L)._1 == 200L && tel(3L)._2 == 1.0 && tel(3L)._3)
    assert(tel(1L)._4 == tel(2L)._4 && tel(1L)._4 != tel(3L)._4, "each file under its own batch id")
    // drained restart: no new files, no new partitions
    val before = spark.read.parquet(s"$root/telemetry").count()
    run()
    assert(spark.read.parquet(s"$root/telemetry").count() == before)
  }

  test("chunk stream: arriving files chunk under the frozen model; a retrain is refused loudly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft-chunk-stream").toString
    new java.io.File(s"$root/raw").mkdirs()
    // freeze a model
    Seq((0L, "abab abab cd"), (1L, "ab cd ab")).toDF("doc_id", "text")
      .write.parquet(s"$root/data/documents.parquet")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "build_bpe_model", "--data", s"$root/data",
      "--model", s"$root/model", "--merges", "4"), spark)
    def drain(): Unit = graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "chunk_stream", "--raw", s"$root/raw",
      "--out", s"$root/chunks", "--checkpoint", s"$root/ckpt",
      "--model", s"$root/model", "--window", "3", "--stride", "2"), spark)
    // empty drain: no batches, no failure, space pinned
    drain()
    assert(graft.operators.Chunking.storedSpace(spark, s"$root/chunks").contains("bpe:v1"))
    // file 1 arrives; streamed chunks must equal the batch chunker's
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"doc_id":100,"text":"abab cd abab"}
        |{"doc_id":101,"text":"cd cd"}""".stripMargin)
    drain()
    def landed() = spark.read.option("basePath", s"$root/chunks").parquet(s"$root/chunks")
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_chunk_toks"), col("chunk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val lib = graft.operators.Chunking.bpeChunksFrozen(
      Seq((100L, "abab cd abab"), (101L, "cd cd")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/model", 3L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(landed() == lib, "streamed chunks must equal the batch chunker's")
    // file 2 arrives: new chunks land, old ones untouched
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f2.json"),
      """{"doc_id":200,"text":"ab ab ab ab"}""".stripMargin)
    drain()
    assert(landed().map(_._1) == Set(100L, 101L, 200L))
    // drained restart: nothing new
    val before = landed()
    drain()
    assert(landed() == before)
    // mid-campaign RETRAIN: the model advances to v2 — a further drain
    // must refuse loudly instead of mixing token spaces
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "build_bpe_model", "--data", s"$root/data",
      "--model", s"$root/model", "--merges", "2"), spark)
    val e = intercept[IllegalArgumentException](drain())
    assert(e.getMessage.contains("_space"), e.getMessage)
    assert(landed() == before, "a refused drain must not touch the landed chunks")
  }

  test("dsir stream: arriving files score against the frozen weights; drained restart adds nothing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dsir-stream").toString
    new java.io.File(s"$root/raw").mkdirs()
    // freeze weights on a snapshot corpus (raw + curated target)
    val snap = (0L until 30L)
      .map(i => (i, (0 until 10).map(j => s"w${(i * 3 + j) % 12}").mkString(" ")))
      .toDF("doc_id", "text")
    snap.write.parquet(s"$root/snapraw")
    snap.filter(col("doc_id") % 5 === 0).write.parquet(s"$root/snaptgt")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "dsir_weights", "--data", s"$root/snapraw",
      "--target", s"$root/snaptgt", "--out", s"$root/w", "--buckets", "64"), spark)
    def drain(): Unit = graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "dsir_stream", "--raw", s"$root/raw",
      "--weights", s"$root/w", "--out", s"$root/scores",
      "--checkpoint", s"$root/ckpt"), spark)
    // an EMPTY raw dir drains zero batches — the verb must report 0,
    // not die reading a score dir that was never created
    drain()
    assert(!new java.io.File(s"$root/scores").exists()
      || new java.io.File(s"$root/scores").listFiles().forall(!_.getName.startsWith("score_batch=")))
    // file 1 arrives and scores; must equal the BATCH scorer on the same rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"doc_id":100,"text":"w0 w1 w2 w3"}
        |{"doc_id":101,"text":"w9 w10 w11 w9"}""".stripMargin)
    drain()
    def landed() = spark.read.parquet(s"$root/scores")
      .select(col("doc_id"), col("n_bigrams"), col("score_micro"), col("avg_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val lib = graft.operators.Importance.importanceScores(
      Seq((100L, "w0 w1 w2 w3"), (101L, "w9 w10 w11 w9")).toDF("doc_id", "text"),
      "doc_id", "text", spark.read.parquet(s"$root/w"), 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(landed() == lib, "streamed scores must equal the batch scorer's")
    // file 2 arrives: new docs land, old scores untouched
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f2.json"),
      """{"doc_id":200,"text":"w4 w5 w6"}""".stripMargin)
    drain()
    assert(landed().map(_._1) == Set(100L, 101L, 200L))
    // drained restart: nothing new
    val before = landed()
    drain()
    assert(landed() == before)
  }

  test("turns_stream: --max_conv_rows reaches the fold's walk guard; raised, the stream converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-turns-mcr").toString
    new java.io.File(s"$root/raw").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"conv_id":1,"turn_id":0,"parent_id":null}
        |{"conv_id":1,"turn_id":1,"parent_id":0}
        |{"conv_id":1,"turn_id":2,"parent_id":1}""".stripMargin)
    def drain(mcr: String): Unit = graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "turns_stream", "--raw", s"$root/raw",
      "--state", s"$root/tree", "--checkpoint", s"$root/ckpt",
      "--max_conv_rows", mcr), spark)
    // an absurdly low guard: the fold refuses with the walk-row
    // diagnosis (proving the CLI flag reaches ConvTree.guardConvRows —
    // before r16 the verbs had no knob and a wedged stream's error
    // told the operator to raise a parameter that didn't exist)
    val e = intercept[Throwable](drain("2"))
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("maxConvRows"), chain)
    // the guard fired before any swap, so no membership bucket landed
    // (at most sidecars) and the lease was released; the SAME stream
    // re-drained with the guard raised folds the file (exactly-once
    // under its batch id)
    val treeDir = new java.io.File(s"$root/tree")
    assert(!treeDir.exists() || !treeDir.listFiles().exists(_.getName.startsWith("cv=")),
      "guard must fire before any membership bucket lands")
    drain("2000000")
    assert(spark.read.parquet(s"$root/tree").count() == 3L)
  }

  test("turns stream: arriving turn files fold into the tree state; equals batch folds; drained restart adds nothing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-turns-stream").toString
    new java.io.File(s"$root/raw").mkdirs()
    def drain(): Unit = graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "turns_stream", "--raw", s"$root/raw",
      "--state", s"$root/tree", "--checkpoint", s"$root/ckpt"), spark)
    // EMPTY raw dir: zero batches drained — the verb must report 0,
    // not die reading a state dir that was never created (the
    // dsir_stream lesson, built in from day one)
    drain()
    assert(!new java.io.File(s"$root/tree").exists())
    // file 1: a root chain 0 -> 1 plus a sibling fork 2 under 0
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"conv_id":1,"turn_id":0,"parent_id":null}
        |{"conv_id":1,"turn_id":1,"parent_id":0}
        |{"conv_id":1,"turn_id":2,"parent_id":0}""".stripMargin)
    drain()
    def state() = spark.read.parquet(s"$root/tree")
      .select("conv_id", "path_id", "pos", "turn_id", "train")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    def replay(rows: Seq[(Long, Long, Option[Long])]) =
      graft.operators.ConvTree.treePaths(
        rows.map { case (c, t, p) => (c, t, p.map(java.lang.Long.valueOf).orNull) }
          .toDF("conv_id", "turn_id", "parent_id"),
        "conv_id", "turn_id", "parent_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toSet
    val f1 = Seq((1L, 0L, None), (1L, 1L, Some(0L)), (1L, 2L, Some(0L)))
      .asInstanceOf[Seq[(Long, Long, Option[Long])]]
    assert(state() == replay(f1), "streamed state must equal the from-scratch walk")
    // file 2: extend leaf 1 (its path key changes) + a NEW conversation
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f2.json"),
      """{"conv_id":1,"turn_id":3,"parent_id":1}
        |{"conv_id":2,"turn_id":0,"parent_id":null}""".stripMargin)
    drain()
    val all = f1 ++ Seq((1L, 3L, Option(1L)), (2L, 0L, Option.empty[Long]))
    assert(state() == replay(all), "fold after extension + new conv must equal the walk")
    // drained restart: nothing new
    val before = state()
    drain()
    assert(state() == before, "drained restart adds nothing")
    // TWO files landing in ONE drain: the file-=-batch contract is
    // ENFORCED (maxFilesPerTrigger=1), so each file folds as its own
    // micro-batch with its own applied id — the root _applied_id must
    // advance by TWO, not one, and the state must equal the walk
    def appliedId() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/tree/_applied_id")), "UTF-8").trim.toLong
    val idBefore = appliedId()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f3.json"),
      """{"conv_id":3,"turn_id":0,"parent_id":null}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f4.json"),
      """{"conv_id":4,"turn_id":0,"parent_id":null}""")
    drain()
    assert(appliedId() == idBefore + 2L,
      s"two files in one drain must fold as two micro-batches (applied id " +
        s"$idBefore -> ${appliedId()}, expected ${idBefore + 2L})")
    val all2 = all ++ Seq((3L, 0L, Option.empty[Long]), (4L, 0L, Option.empty[Long]))
    assert(state() == replay(all2), "per-file folds must equal the walk")
    // the state SERVES the render verbs without re-running the closure
    all.map { case (c, t, p) =>
      (c, t, p.map(java.lang.Long.valueOf).orNull,
        if (t % 2 == 0) "user" else "assistant", s"x$c$t")
    }.toDF("conv_id", "turn_id", "parent_id", "role", "content")
      .write.parquet(s"$root/turns")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "tree_render", "--turns", s"$root/turns",
      "--out", s"$root/rendered", "--paths_state", s"$root/tree"), spark)
    assert(spark.read.parquet(s"$root/rendered").count() > 0)
  }

  test("turns backfill: a multi-file backlog folds as ONE batch; turns_stream hands off losslessly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-turns-backfill").toString
    new java.io.File(s"$root/raw").mkdirs()
    // a 6-file causal backlog: conv 1 grows across files, conv 2 and 3
    // appear mid-backlog — the accumulated cold-start shape
    val backlog = Seq(
      """{"conv_id":1,"turn_id":0,"parent_id":null}""",
      """{"conv_id":1,"turn_id":1,"parent_id":0}
        |{"conv_id":1,"turn_id":2,"parent_id":0}""".stripMargin,
      """{"conv_id":2,"turn_id":0,"parent_id":null}""",
      """{"conv_id":1,"turn_id":3,"parent_id":1}""",
      """{"conv_id":2,"turn_id":1,"parent_id":0}
        |{"conv_id":3,"turn_id":0,"parent_id":null}""".stripMargin,
      """{"conv_id":3,"turn_id":1,"parent_id":0}"""
    )
    backlog.zipWithIndex.foreach { case (s, i) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f"$root/raw/f$i%02d.json"), s)
    }
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "turns_backfill", "--raw", s"$root/raw",
      "--state", s"$root/tree", "--checkpoint", s"$root/ckpt"), spark)
    def appliedId() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/tree/_applied_id")), "UTF-8").trim.toLong
    // the WHOLE backlog folded as one micro-batch: applied id 0, once
    assert(appliedId() == 0L, s"backfill must fold the backlog as ONE batch, got id ${appliedId()}")
    def state() = spark.read.parquet(s"$root/tree")
      .select("conv_id", "path_id", "pos", "turn_id", "train")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    def replay(rows: Seq[(Long, Long, Option[Long])]) =
      graft.operators.ConvTree.treePaths(
        rows.map { case (c, t, p) => (c, t, p.map(java.lang.Long.valueOf).orNull) }
          .toDF("conv_id", "turn_id", "parent_id"),
        "conv_id", "turn_id", "parent_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toSet
    val backlogRows = Seq(
      (1L, 0L, None), (1L, 1L, Some(0L)), (1L, 2L, Some(0L)),
      (2L, 0L, None), (1L, 3L, Some(1L)),
      (2L, 1L, Some(0L)), (3L, 0L, None), (3L, 1L, Some(0L))
    ).asInstanceOf[Seq[(Long, Long, Option[Long])]]
    assert(state() == replay(backlogRows), "backfilled state must equal the from-scratch walk")
    // HANDOFF: steady-state turns_stream on the SAME checkpoint sees
    // only files newer than the backfill — nothing double-folds (a
    // re-fold of an already-applied conv/turn would fire the collision
    // gate), nothing is lost, and per-file applied ids resume
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/g1.json"),
      """{"conv_id":3,"turn_id":2,"parent_id":1}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/g2.json"),
      """{"conv_id":4,"turn_id":0,"parent_id":null}""")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "turns_stream", "--raw", s"$root/raw",
      "--state", s"$root/tree", "--checkpoint", s"$root/ckpt"), spark)
    assert(appliedId() == 2L,
      s"two post-backfill files must fold as two per-file batches (got ${appliedId()})")
    val all = backlogRows ++ Seq((3L, 2L, Option(1L)), (4L, 0L, Option.empty[Long]))
    assert(state() == replay(all), "post-handoff state must equal the full walk")
  }

  test("turns backfill: empty raw dir is a no-op; an OUT-OF-ORDER backlog still folds (union is causal)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-turns-backfill-edge").toString
    new java.io.File(s"$root/raw").mkdirs()
    def backfill(): Unit = graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "turns_backfill", "--raw", s"$root/raw",
      "--state", s"$root/tree", "--checkpoint", s"$root/ckpt"), spark)
    // empty raw dir: zero batches, no state created, no wedge
    backfill()
    assert(!new java.io.File(s"$root/tree").exists())
    // a backlog whose causal order BREAKS across files — the child's
    // file sorts BEFORE its parent's (a cold-start landing where file
    // order no longer reflects arrival order). Per-file turns_stream
    // would refuse file a (orphan parent); the backfill's union IS a
    // valid causal batch, so the cold start recovers it in one fold.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/a-child.json"),
      """{"conv_id":1,"turn_id":1,"parent_id":0}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/b-root.json"),
      """{"conv_id":1,"turn_id":0,"parent_id":null}""")
    backfill()
    val got = spark.read.parquet(s"$root/tree")
      .select("conv_id", "path_id", "pos", "turn_id", "train")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    val want = graft.operators.ConvTree.treePaths(
      Seq((1L, 0L, null.asInstanceOf[java.lang.Long]), (1L, 1L, java.lang.Long.valueOf(0L)))
        .toDF("conv_id", "turn_id", "parent_id"),
      "conv_id", "turn_id", "parent_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == want, "out-of-order backlog must fold to the from-scratch walk")
  }
}
