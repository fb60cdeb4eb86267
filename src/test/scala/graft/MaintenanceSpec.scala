package graft

import graft.operators.{DurableRoot, Maintenance}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class MaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-maint-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("labeledJobs labels its own jobs and restores the caller's label on return and on throw") {
    val sc = spark.sparkContext
    val prefix = "maintenance-spec: "
    val marker = prefix + "listener drained"
    val labels = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach { d =>
          if (d == marker) markerSeen.countDown()
          else if (d.startsWith(prefix)) labels.add(d.stripPrefix(prefix))
        }
    }
    def job(): Unit = sc.parallelize(Seq(1), 1).count()
    def current: String = sc.getLocalProperty("spark.job.description")
    sc.addSparkListener(listener)
    sc.setJobDescription(prefix + "outer")
    try {
      Maintenance.labeledJobs(spark, prefix + "inner ok")(job())
      assert(current == prefix + "outer", "a nested block that returns must restore the outer label")
      intercept[IllegalStateException] {
        Maintenance.labeledJobs(spark, prefix + "inner throws") { job(); throw new IllegalStateException("boom") }
      }
      assert(current == prefix + "outer", "a nested block that throws must restore the outer label")
      job()
      // Listener events arrive in order: once the marker job's start is
      // seen, every earlier job's start has been seen too.
      sc.setJobDescription(marker)
      job()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener events not delivered")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(labels.asScala.toSeq == Seq("inner ok", "inner throws", "outer"))
  }

  test("compact rewrites many small files into the size-targeted count, preserving data") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(50).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 50, s"fixture should start fragmented, got $before files")

    val n = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n == 1, s"1 GiB target must compact to a single file, got $n")
    val after = spark.read.parquet(dir)
    assert(after.count() == docs.count())
    assert(
      after.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
        docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    )
    assert(!new java.io.File(dir + ".__compact_tmp").exists(), "temp dir cleaned up")
    assert(!new java.io.File(dir + ".__compact_old").exists(), "old dir cleaned up")
  }

  test("incrementalDedup drops cross-batch and in-batch duplicates via the hash index") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-incr-dedup").toString + "/index.parquet"

    val batch1 = Seq(
      (1L, "alpha text"),
      (2L, "beta text"),
      (3L, "alpha text") // in-batch dup of 1 → keep-min drops it
    ).toDF("doc_id", "text")
    val acc1 = Maintenance
      .incrementalDedup(spark, batch1, "doc_id", "text", index)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(acc1 == Set(1L, 2L), s"first batch keeps min-id uniques, got $acc1")

    val batch2 = Seq(
      (4L, "alpha text"), // already in the corpus → dropped
      (5L, "gamma text") // new → accepted
    ).toDF("doc_id", "text")
    val acc2 = Maintenance
      .incrementalDedup(spark, batch2, "doc_id", "text", index)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(acc2 == Set(5L), s"second batch only accepts unseen content, got $acc2")

    val indexRows = spark.read.parquet(index).distinct().count()
    assert(indexRows == 3L, s"index holds one row per unique text, got $indexRows")
  }

  test("incrementalDedup self-compacts the hash index at the file-count threshold") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-dedup-autocompact").toString + "/index.parquet"
    def files: Int =
      new java.io.File(index).listFiles().count(_.getName.endsWith(".parquet"))
    (0 to 9).foreach { i =>
      val b = Seq((i * 10L + 1, s"text $i"), (i * 10L + 2, s"text $i again")).toDF("doc_id", "text")
      Maintenance.incrementalDedup(spark, b, "doc_id", "text", index, maxIndexFiles = 4)
    }
    assert(files <= 5, s"index file count must stay near the threshold, got $files")
    // Compacted index still deduplicates exactly: every prior text
    // rejected, fresh text accepted, index row count = distinct texts.
    val probe = Seq((900L, "text 3"), (901L, "never seen")).toDF("doc_id", "text")
    val acc = Maintenance
      .incrementalDedup(spark, probe, "doc_id", "text", index, maxIndexFiles = 4)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(acc == Set(901L), s"compacted index must reject known content: $acc")
    assert(
      spark.read.parquet(index).distinct().count() == 21L,
      "one hash row per distinct accepted text"
    )
  }

  test("tierIndexFiles peels settled files: a dominant file is never rewritten") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-dedup-tier").toString + "/index.parquet"
    def files: Map[String, Long] =
      new java.io.File(index)
        .listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length())
        .toMap
    // A genuinely big first batch: its hashes settle into one file
    // that dominates everything later appends pile up.
    val big = (1 to 3000).map(i => (i.toLong, s"unique document text number $i")).toDF("doc_id", "text")
    Maintenance.incrementalDedup(spark, big, "doc_id", "text", index, maxIndexFiles = 64)
    val Seq((bigName, bigBytes)) = files.toSeq
    // Trickle small batches past the threshold: tiering must merge the
    // smalls among themselves and leave the settled file byte-identical.
    (0 to 5).foreach { i =>
      val b = Seq((10000L + i, s"tiny $i")).toDF("doc_id", "text")
      Maintenance.incrementalDedup(spark, b, "doc_id", "text", index, maxIndexFiles = 4)
    }
    val after = files
    assert(after.get(bigName).contains(bigBytes), s"settled file must survive untouched: $after")
    assert(after.size <= 5, s"small files must have merged: ${after.keys}")
    // Exactness after tiering: old content rejected, fresh accepted.
    val probe = Seq((90000L, "tiny 3"), (90001L, "never before")).toDF("doc_id", "text")
    val acc = Maintenance
      .incrementalDedup(spark, probe, "doc_id", "text", index, maxIndexFiles = 4)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(acc == Set(90001L), s"tiered index must reject known content: $acc")
    assert(
      spark.read.parquet(index).distinct().count() == 3007L,
      "one hash row per distinct accepted text across tiers"
    )
  }

  test("tierIndexFiles crash windows converge: stale tmp dropped, duplicate rows harmless") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dedup-tiercrash").toString
    val index = s"$root/index.parquet"
    (0 to 3).foreach { i =>
      val b = Seq((i.toLong, s"doc $i")).toDF("doc_id", "text")
      Maintenance.incrementalDedup(spark, b, "doc_id", "text", index, maxIndexFiles = 64)
    }
    // Crash window A: merge written to tmp, nothing moved, victims
    // intact — the stale tmp must be dropped on the next trigger, and
    // no hash may be lost.
    spark.read
      .parquet(index)
      .select("__h")
      .distinct()
      .coalesce(1)
      .write
      .parquet(s"$index.__tier_tmp")
    // Crash window B: one merged file moved in, victims NOT deleted —
    // duplicate rows across files must stay harmless to the anti-join.
    val tmpPart = new java.io.File(s"$index.__tier_tmp")
      .listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .head
    java.nio.file.Files.copy(
      tmpPart.toPath,
      new java.io.File(index, "crashdup-" + tmpPart.getName).toPath
    )
    val probe = Seq((800L, "doc 2"), (801L, "fresh doc")).toDF("doc_id", "text")
    val acc = Maintenance
      .incrementalDedup(spark, probe, "doc_id", "text", index, maxIndexFiles = 4)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(acc == Set(801L), s"duplicate index rows must not double-reject or leak: $acc")
    assert(!new java.io.File(s"$index.__tier_tmp").exists(), "stale tmp swept on trigger")
    assert(
      spark.read.parquet(index).select("__h").distinct().count() == 5L,
      "hash set intact through both crash windows"
    )
  }

  test("compactPartitioned rewrites fragmented partition dirs, preserving rows and layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-pcompact").toString + "/assignments"
    // Simulate a long ingest: 8 batches each appending one file per
    // touched cluster dir — every dir ends up 8-file fragmented.
    (0 until 8).foreach { b =>
      (0 until 4)
        .map(c => (b * 10L + c, c))
        .toDF("vec_id", "cluster")
        .repartition(org.apache.spark.sql.functions.col("cluster"))
        .write
        .mode("append")
        .partitionBy("cluster")
        .parquet(root)
    }
    def filesIn(c: Int): Int =
      new java.io.File(s"$root/cluster=$c").listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn(0) == 8, "fixture must start fragmented")
    val before = spark.read.parquet(root).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val n = Maintenance.compactPartitioned(spark, root)
    assert(n == 4, s"all four fragmented dirs rewritten, got $n")
    (0 until 4).foreach(c => assert(filesIn(c) == 1, s"cluster=$c compacted to one file"))
    val after = spark.read.parquet(root).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before, "row set preserved across the rewrite")
    assert(!new java.io.File(s"$root.__pcompact_tmp").exists(), "tmp cleaned up")
    assert(!new java.io.File(s"$root.__pcompact_old").exists(), "old cleaned up")
    // Idempotent re-run: nothing above the threshold, zero rewrites.
    assert(Maintenance.compactPartitioned(spark, root) == 0)
  }

  test("compactPartitioned heals a crash-stranded partition dir on entry") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-pcompact-crash").toString
    val root = s"$base/assignments"
    (0 until 3).foreach { b =>
      (0 until 2)
        .map(c => (b * 10L + c, c))
        .toDF("vec_id", "cluster")
        .repartition(org.apache.spark.sql.functions.col("cluster"))
        .write
        .mode("append")
        .partitionBy("cluster")
        .parquet(root)
    }
    val before = spark.read.parquet(root).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // Fabricate the crash window between a dir's two renames: its live
    // dir moved to old, the rewritten tmp dir never moved in.
    new java.io.File(s"$root.__pcompact_old").mkdirs()
    assert(
      new java.io.File(s"$root/cluster=1")
        .renameTo(new java.io.File(s"$root.__pcompact_old/cluster=1")),
      "fixture rename"
    )
    val n = Maintenance.compactPartitioned(spark, root)
    assert(n >= 1, "heal must precede the rewrite pass")
    val after = spark.read.parquet(root).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before, "stranded partition restored before compaction")
    assert(!new java.io.File(s"$root.__pcompact_old").exists(), "old root cleared after heal")
  }

  test("upsert replaces same-key rows, keeps the rest, and is idempotent") {
    import spark.implicits._
    val snapshot = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v")
    val updates = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("id", "name", "v")

    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

    val once = Maintenance.upsert(snapshot, updates, Seq("id"))
    assert(
      rows(once) == Set((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)),
      "updates replace same-key rows; unmatched snapshot and new rows survive"
    )
    val twice = Maintenance.upsert(once, updates, Seq("id"))
    assert(rows(twice) == rows(once), "re-applying the same batch is a no-op")
  }

  test("writeCounted returns the written row count from the write job itself") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-observed").toString + "/t"
    val n = graft.pipeline.Pipeline.writeCounted((1 to 137).toDF("v"), out)
    assert(n == 137L)
    assert(spark.read.parquet(out).count() == 137L)
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v")
    val v2 = Seq((2L, "b", 21), (3L, "c", 30), (4L, "d", 40)).toDF("id", "name", "v")
    val diff = Maintenance
      .snapshotDiff(v1, v2, Seq("id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(diff == Set((1L, "removed"), (2L, "changed"), (4L, "added")))
  }

  test("refreshAggregate over two batches equals the one-shot aggregate of their union") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-refresh").toString + "/rollup.parquet"
    val b1 = Seq(("a", 10L), ("a", 5L), ("b", 7L)).toDF("k", "v")
    val b2 = Seq(("a", 1L), ("c", 2L)).toDF("k", "v")
    Maintenance.refreshAggregate(spark, b1, Seq("k"), Seq("v"), state).count()
    val after = Maintenance
      .refreshAggregate(spark, b2, Seq("k"), Seq("v"), state)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(after == Set(("a", 16L, 3L), ("b", 7L, 1L), ("c", 2L, 1L)))
    assert(!new java.io.File(state + ".__refresh_tmp").exists())
    assert(!new java.io.File(state + ".__refresh_old").exists())
  }

  test("refreshAggregate with an appliedId makes a retried batch a no-op") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-refresh-id").toString + "/rollup.parquet"
    val b = Seq(("a", 10L)).toDF("k", "v")
    Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(7L)).count()
    val retried = Maintenance
      .refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(7L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(retried == Set(("a", 10L, 1L)), "same id must not double-ingest")
    val next = Maintenance
      .refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(8L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(next == Set(("a", 20L, 2L)), "a new id applies normally")
  }

  test("refreshCardinality: incremental sketch state matches one-shot distinct; replay no-ops") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-card-spec").toString + "/card.parquet"
    val rnd = new scala.util.Random(5)
    val rows = (1 to 20000).map(i => (s"k${i % 3}", s"tok${rnd.nextInt(5000)}"))
    val (b1, b2) = rows.splitAt(12000)
    Maintenance
      .refreshCardinality(spark, b1.toDF("k", "t"), Seq("k"), "t", state, Some(1L))
      .count()
    Maintenance
      .refreshCardinality(spark, b2.toDF("k", "t"), Seq("k"), "t", state, Some(2L))
      .count()
    // replay of batch 2 must leave the state byte-identical in effect
    Maintenance
      .refreshCardinality(spark, b2.toDF("k", "t"), Seq("k"), "t", state, Some(2L))
      .count()
    val got = Maintenance
      .cardinalityEstimates(spark, state)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val exact = rows.groupBy(_._1)
    for ((k, (est, n)) <- got) {
      assert(n == exact(k).size.toLong, s"$k exact row counter (replay must not inflate)")
      val distinct = exact(k).map(_._2).distinct.size.toDouble
      assert(math.abs(est / distinct - 1.0) <= 0.05, s"$k est=$est exact=$distinct")
    }
    assert(got.keySet == exact.keySet)
  }

  test("refreshAggregate recovers state stranded by a crash between the swap renames") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-refresh-crash").toString + "/rollup.parquet"
    val b1 = Seq(("a", 10L), ("b", 7L)).toDF("k", "v")
    Maintenance.refreshAggregate(spark, b1, Seq("k"), Seq("v"), state, appliedId = Some(1L)).count()
    // Simulate a crash between rename(state, old) and rename(tmp, state):
    // the accumulated state sits in .__refresh_old, statePath is gone.
    val f = new java.io.File(state)
    assert(f.renameTo(new java.io.File(state + ".__refresh_old")))
    val after = Maintenance
      .refreshAggregate(spark, Seq(("a", 1L)).toDF("k", "v"), Seq("k"), Seq("v"), state, appliedId = Some(2L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(after == Set(("a", 11L, 2L), ("b", 7L, 1L)), "stranded history must be restored, not discarded")
    // And a marker retry across the crash still dedupes: replay batch 2.
    val retried = Maintenance
      .refreshAggregate(spark, Seq(("a", 1L)).toDF("k", "v"), Seq("k"), Seq("v"), state, appliedId = Some(2L))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(retried == after, "retry of the applied batch must be a no-op after recovery")
  }

  test("compact recovers a dataset stranded in .__compact_old by a prior crash") {
    val dir = Files.createTempDirectory("graft-compact-crash").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(10).write.parquet(dir)
    val rows = docs.count()
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".__compact_old")))
    val n = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n == 1)
    assert(spark.read.parquet(dir).count() == rows, "recovered dataset must be complete")
    assert(!new java.io.File(dir + ".__compact_old").exists())
  }

  test("schemaDiff reports added, removed, and type-changed columns from metadata only") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-schemadiff").toString
    Seq((1L, "x", 1.0)).toDF("id", "name", "score").write.parquet(s"$d/v1")
    Seq((1L, 1, true)).toDF("id", "score", "fresh").write.parquet(s"$d/v2")
    val diff = Maintenance
      .schemaDiff(spark, s"$d/v1", s"$d/v2")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(diff == Set(("fresh", "added"), ("name", "removed"), ("score", "type_changed")))
  }

  test("expirePartitions deletes only the expired month directories, no data rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-expire").toString + "/t"
    Seq((2023, 11, 1L), (2023, 12, 2L), (2024, 1, 3L), (2024, 2, 4L))
      .toDF("year", "month", "v")
      .write
      .partitionBy("year", "month")
      .parquet(dir)
    val deleted = Maintenance.expirePartitions(
      spark,
      dir,
      spec =>
        spec.contains("month") && // only expire at the leaf level
          (spec("year").toInt * 100 + spec("month").toInt) < 202401
    )
    assert(deleted.length == 2, s"two months predate the cutoff, got $deleted")
    val left = spark.read.parquet(dir).select("v").collect().map(_.getLong(0)).toSet
    assert(left == Set(3L, 4L), "surviving partitions read back intact")
  }

  test("incrementalDupSpans: cross-batch spans via state; replay recomputes identically, state untouched") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-spans").toString + "/spans"
    def ext(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // Batch 0: docs 1/2 share the 7-token run X1..X7 — within-batch dup.
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    val e0 = ext(Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L)))
    assert(e0 == Set((1L, 3, 9, 7L), (2L, 2, 8, 7L)), s"within-batch extents: $e0")
    // Batch 1: doc 10 shares the run ONLY with the prior corpus — the
    // state probe must find it; doc 11 is fresh.
    val b1 = Seq(
      (10L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7"),
      (11L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12 d13 d14")
    ).toDF("doc_id", "text")
    val e1 = ext(Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L)))
    assert(e1 == Set((10L, 1, 7, 7L)), s"cross-batch extent via state: $e1")
    val stateAfterB1 = spark.read
      .parquet(state)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // Replay of batch 1: the post-fold state attributes batch 1's own
    // hashes to their docs, so the probe recomputes IDENTICAL extents
    // (batch-keyed overwrite convergence) and the state fold no-ops.
    val replay = ext(Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L)))
    assert(replay == e1, s"replayed batch must recompute identical extents: $replay")
    assert(
      spark.read
        .parquet(state)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == stateAfterB1,
      "replay must leave the state byte-equal"
    )
    // Batch 2 sees batch 1's spans through the state (d-run now shared).
    val b2 = Seq((20L, "e1 d1 d2 d3 d4 d5 d6 d7 e2 e3 e4 e5 e6 e7")).toDF("doc_id", "text")
    val e2 = ext(Maintenance.incrementalDupSpans(spark, b2, "doc_id", "text", state, Some(2L)))
    assert(e2 == Set((20L, 1, 7, 7L)), s"state must have folded batch 1's hashes: $e2")
    // A re-crawled UNCHANGED doc in a later batch must not duplicate
    // against its own prior contribution (self-attributed state rows
    // are excluded from the probe).
    val b3 = Seq((30L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12")).toDF("doc_id", "text")
    assert(ext(Maintenance.incrementalDupSpans(spark, b3, "doc_id", "text", state, Some(3L))).isEmpty)
    val again = ext(Maintenance.incrementalDupSpans(spark, b3, "doc_id", "text", state, Some(4L)))
    assert(again.isEmpty, s"re-crawled unchanged doc must not self-dup: $again")
  }

  test("dup_spans CLI verb: batch probed, extents written, state folded") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-cli").toString
    Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text").write.parquet(s"$root/batch0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "dup_spans",
        "--batch", s"$root/batch0",
        "--state", s"$root/spans",
        "--out", s"$root/ext0",
        "--applied_id", "0"
      ),
      spark
    )
    val ext = spark.read
      .parquet(s"$root/ext0")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(ext == Set((1L, 3, 9, 7L), (2L, 2, 8, 7L)), s"CLI extents: $ext")
    assert(spark.read.parquet(s"$root/spans").count() > 0, "state folded")
  }

  test("incrementalDupSpans: a shingle-free batch yields nothing and loses no state") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-spans-short").toString + "/spans"
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
    val before = spark.read
      .parquet(state)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // Docs below the 3-token shingle floor contribute zero positions —
    // the probe, the island merge, and the state fold must all be
    // no-op-safe on the empty frame, and the accumulated state must
    // survive the empty-partial rewrite.
    val shorts = Seq((50L, "x y"), (51L, "")).toDF("doc_id", "text")
    val ext = Maintenance
      .incrementalDupSpans(spark, shorts, "doc_id", "text", state, Some(1L))
      .collect()
    assert(ext.isEmpty, s"shingle-free batch must yield no extents: ${ext.toSeq}")
    assert(
      spark.read
        .parquet(state)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == before,
      "state must survive an empty-partial fold"
    )
    // And the state still serves the next real batch.
    val b2 = Seq((60L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3")).toDF("doc_id", "text")
    val e2 = Maintenance
      .incrementalDupSpans(spark, b2, "doc_id", "text", state, Some(2L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e2 == Set((60L, 1, 7, 7L)), s"state must still serve probes: $e2")
  }

  test("incrementalDupSpans recovers state stranded by a crash between the swap renames") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-crash").toString
    val state = s"$root/spans"
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
    // Simulate the crash window: state renamed aside, new state not yet
    // in place.
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(
      fs.rename(
        new org.apache.hadoop.fs.Path(state),
        new org.apache.hadoop.fs.Path(s"$state.__refresh_old")
      )
    )
    // The next batch must heal on entry and still see batch 0's spans.
    val b1 = Seq((10L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text")
    val e1 = Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e1 == Set((10L, 1, 7, 7L)), s"recovered state must serve the probe: $e1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state.__refresh_old")), "old dir cleaned")
  }

  // ─────────────── hash-prefix-partitioned span-state fold ───────────────

  /** Per-hp physical snapshot: every parquet file under the partition
    * (recursing into seg= subdirs) as (relative path, length, mtime).
    */
  private def hpSnapshot(state: String): Map[String, Set[(String, Long, Long)]] = {
    def walk(d: java.io.File, prefix: String): Seq[(String, Long, Long)] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) walk(f, s"$prefix${f.getName}/")
        else if (f.getName.endsWith(".parquet")) Seq((prefix + f.getName, f.length(), f.lastModified()))
        else Seq.empty
      }
    val root = new java.io.File(state)
    root
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hp="))
      .map(d => d.getName -> walk(d, "").toSet)
      .toMap
  }

  /** The state's SEMANTIC content — the per-h fold across segments.
    * Physical rows are per-segment partials under the append protocol,
    * so equality claims are made on this view.
    */
  private def stateRows(state: String): Set[(Long, Long, Long)] =
    Maintenance
      .spanStateView(spark, state)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet

  private def segDirs(state: String, hp: String): Set[String] = {
    val d = new java.io.File(s"$state/$hp")
    if (!d.exists()) Set.empty
    else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("seg=")).map(_.getName).toSet
  }

  test("incrementalDupSpans: a batch APPENDS segments — existing state files are never touched") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-part").toString
    val state = s"$root/spans"
    // Wide-vocab corpus: ~1400 distinct shingles spread over all 64
    // buckets, so the state has many partitions to leave untouched.
    val corpus = (1 to 50)
      .map(i => (i.toLong, (1 to 30).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, corpus, "doc_id", "text", state, Some(0L))
    assert(new java.io.File(s"$state/_buckets").exists(), "bucket pin written")
    assert(new java.io.File(s"$state/_segmented").exists(), "segment marker written")
    val before = hpSnapshot(state)
    assert(before.size > 32, s"corpus should populate most buckets, got ${before.size}")
    // One 5-token doc: 3 shingle hashes -> at most 3 touched buckets.
    val batch = Seq((1000L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, batch, "doc_id", "text", state, Some(1L))
    val after = hpSnapshot(state)
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty && changed.size <= 3, s"3 hashes may touch <=3 buckets: $changed")
    // The append-only contract, stronger than don't-rewrite-untouched:
    // EVERY pre-existing file survives byte-identical (name, length,
    // mtime) — touched partitions only GAIN a seg=b1 segment.
    before.foreach { case (k, files) =>
      assert(
        files.subsetOf(after.getOrElse(k, Set.empty)),
        s"partition $k lost or rewrote pre-existing files"
      )
    }
    changed.foreach { k =>
      val newFiles = after(k) -- before.getOrElse(k, Set.empty)
      assert(
        newFiles.nonEmpty && newFiles.forall(_._1.startsWith("seg=b1/")),
        s"touched partition $k must gain exactly a seg=b1 segment: $newFiles"
      )
    }
    // And the folded state equals a one-shot build over corpus ∪ batch.
    val oneShot = s"$root/oneshot"
    Maintenance.incrementalDupSpans(
      spark,
      corpus.unionByName(batch),
      "doc_id",
      "text",
      oneShot,
      Some(0L)
    )
    assert(stateRows(state) == stateRows(oneShot), "append-fold must equal full-fold")
  }

  test("incrementalDupSpans: tiered compaction bounds segment count, preserves the state view") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-compact").toString
    val state = s"$root/spans"
    // A narrow shared vocabulary so every batch lands in the SAME few
    // buckets and the seg count there climbs past the threshold.
    def b(id: Long) = Seq((id, s"k1 k2 k3 k4 k5 k6 k7 v$id")).toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, b(0), "doc_id", "text", state, Some(0L), maxStateSegments = 3)
    (1L to 8L).foreach { i =>
      Maintenance
        .incrementalDupSpans(spark, b(i), "doc_id", "text", state, Some(i), maxStateSegments = 3)
    }
    val segCounts = hpSnapshot(state).keySet.map(k => segDirs(state, k).size)
    // Tiered rule: ≤ maxSegments plus O(log) settled segments — at this
    // size nothing can settle past a handful.
    assert(segCounts.max <= 5, s"compaction must bound segment fan-out: $segCounts")
    // Semantic equality with a one-shot build over all nine batches.
    val oneShot = s"$root/oneshot"
    val all = (0L to 8L).map(i => (i, s"k1 k2 k3 k4 k5 k6 k7 v$i")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, all, "doc_id", "text", oneShot, Some(0L))
    assert(stateRows(state) == stateRows(oneShot), "compacted state must equal full-fold")
    // And the state still serves probes: a new doc sharing the k-run
    // gets its cross-batch extent.
    val e = Maintenance
      .incrementalDupSpans(
        spark,
        Seq((100L, "z0 k1 k2 k3 k4 k5 k6 k7 z1 z2")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(9L),
        maxStateSegments = 3
      )
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e == Set((100L, 1, 7, 7L)), s"compacted state must serve the probe: $e")
  }

  test("incrementalDupSpans: a crash between compaction write and cleanup converges") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-ccrash").toString
    val state = s"$root/spans"
    def b(id: Long) = Seq((id, s"k1 k2 k3 k4 k5 k6 k7 v$id")).toDF("doc_id", "text")
    (0L to 3L).foreach { i =>
      Maintenance
        .incrementalDupSpans(spark, b(i), "doc_id", "text", state, Some(i), maxStateSegments = 99)
    }
    val viewBefore = stateRows(state)
    // Fabricate the crash: a compacted segment fully written, the input
    // segments NOT yet deleted — duplicate rows with an identical fold.
    val hp = hpSnapshot(state).keys.find(k => segDirs(state, k).size >= 3).get
    val hpDir = s"$state/$hp"
    Maintenance
      .spanStateView(spark, hpDir)
      .coalesce(1)
      .write
      .parquet(s"$hpDir/seg=c0")
    assert(stateRows(state) == viewBefore, "duplicate compacted rows must not change the view")
    // The next fold (threshold now exceeded) sweeps the leftovers.
    Maintenance
      .incrementalDupSpans(spark, b(4L), "doc_id", "text", state, Some(4L), maxStateSegments = 2)
    assert(
      segDirs(state, hp).size <= 3,
      s"sweep must merge the duplicate segment away: ${segDirs(state, hp)}"
    )
    val oneShot = s"$root/oneshot"
    val all = (0L to 4L).map(i => (i, s"k1 k2 k3 k4 k5 k6 k7 v$i")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, all, "doc_id", "text", oneShot, Some(0L))
    assert(stateRows(state) == stateRows(oneShot), "swept state must equal full-fold")
  }

  test("incrementalDupSpans: a replay after a half-appended crash converges to the replica") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-acrash").toString
    val state = s"$root/spans"
    val replica = s"$root/replica"
    val b0 = (1 to 20)
      .map(i => (i.toLong, (1 to 10).map(t => s"w${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val b1 = Seq((100L, "y1 y2 y3 y4 y5 y6 y7 y8")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", replica, Some(0L))
    Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L))
    Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", replica, Some(1L))
    // Fabricate the crash window: one of b1's appended segments lost,
    // the root marker rolled back to the previous batch — exactly what
    // a crash between the append job's partition commits leaves.
    val touched = hpSnapshot(state).keys.filter(k => segDirs(state, k).contains("seg=b1")).toSeq
    assert(touched.nonEmpty, "b1 must have appended at least one segment")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$state/${touched.head}/seg=b1"))
    // Through the Hadoop fs, not java.nio — the local fs keeps a .crc
    // sidecar that an out-of-band overwrite would invalidate.
    val hfs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = hfs.create(new org.apache.hadoop.fs.Path(s"$state/_applied_id"), true)
    mk.write("0".getBytes("UTF-8"))
    mk.close()
    // The replay overwrites b1's (hp, seg=b1) partitions with identical
    // content — dynamic partition overwrite — and converges.
    val e = Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    val eRef = Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", replica, Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e == eRef, s"replayed extents must match the (no-op replayed) replica: $e vs $eRef")
    assert(stateRows(state) == stateRows(replica), "replayed state must equal the replica")
  }

  test("compactSpanState merges every partition to one segment, preserves view and probes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-fullcompact").toString
    val state = s"$root/spans"
    def b(id: Long) = Seq((id, s"k1 k2 k3 k4 k5 k6 k7 v$id")).toDF("doc_id", "text")
    // High maxStateSegments so the inline tiered pass never fires and
    // segments genuinely accumulate.
    (0L to 5L).foreach { i =>
      Maintenance
        .incrementalDupSpans(spark, b(i), "doc_id", "text", state, Some(i), maxStateSegments = 99)
    }
    assert(
      hpSnapshot(state).keys.exists(k => segDirs(state, k).size > 1),
      "fixture must accumulate multi-segment partitions"
    )
    val viewBefore = stateRows(state)
    val (done, total) = Maintenance.compactSpanState(spark, state)
    assert(done > 0 && done <= total, s"some partitions merged: $done of $total")
    assert(
      hpSnapshot(state).keys.forall(k => segDirs(state, k).size == 1),
      "every partition at one segment"
    )
    assert(stateRows(state) == viewBefore, "compaction must not change the state view")
    // Idempotent re-run: nothing left to merge, files untouched.
    val snap = hpSnapshot(state)
    val (done2, _) = Maintenance.compactSpanState(spark, state)
    assert(done2 == 0 && hpSnapshot(state) == snap, "second run is metadata-only")
    // The exactly-once marker survives the rewrite: a replay of the
    // LAST ingest batch stays a fold no-op (no segment re-appended).
    Maintenance
      .incrementalDupSpans(spark, b(5L), "doc_id", "text", state, Some(5L), maxStateSegments = 99)
    assert(hpSnapshot(state) == snap, "replay after compaction must not re-append")
    // The compacted state still serves probes and accepts appends.
    val e = Maintenance
      .incrementalDupSpans(
        spark,
        Seq((100L, "z0 k1 k2 k3 k4 k5 k6 k7 z1 z2")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(6L)
      )
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e == Set((100L, 1, 7, 7L)), s"compacted state must serve the probe: $e")
  }

  private def readManifest(state: String, hp: String): Map[String, Long] = {
    val f = new java.io.File(s"$state/$hp/_segs")
    if (!f.exists()) Map.empty
    else
      java.nio.file.Files
        .readString(f.toPath)
        .linesIterator
        .filter(_.nonEmpty)
        .map { l => val Array(n, b) = l.split("\t", 2); n -> b.trim.toLong }
        .toMap
  }

  /** Visible bytes only — the local-fs `.crc` sidecars are invisible to
    * Hadoop's getContentSummary, which the manifest records.
    */
  private def dirBytes(f: java.io.File): Long =
    if (f.getName.startsWith(".")) 0L
    else if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(dirBytes).sum

  test("_segs manifests track segment sizes through append and compaction; stale ones self-heal") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-manifest").toString
    val state = s"$root/spans"
    def b(id: Long) = Seq((id, s"k1 k2 k3 k4 k5 k6 k7 v$id")).toDF("doc_id", "text")
    (0L to 3L).foreach { i =>
      Maintenance
        .incrementalDupSpans(spark, b(i), "doc_id", "text", state, Some(i), maxStateSegments = 99)
    }
    // Every populated partition's manifest must mirror the disk exactly
    // (names AND byte sizes) — the append maintains it without listing.
    hpSnapshot(state).keys.foreach { k =>
      val m = readManifest(state, k)
      val disk = segDirs(state, k).map { s =>
        s.stripPrefix("seg=") -> dirBytes(new java.io.File(s"$state/$k/$s"))
      }.toMap
      assert(m == disk, s"$k manifest $m != disk $disk")
    }
    // Tiered compaction rewrites the manifest to survivors + merged.
    Maintenance
      .incrementalDupSpans(spark, b(4L), "doc_id", "text", state, Some(4L), maxStateSegments = 2)
    hpSnapshot(state).keys.foreach { k =>
      val m = readManifest(state, k)
      val disk = segDirs(state, k).map { s =>
        s.stripPrefix("seg=") -> dirBytes(new java.io.File(s"$state/$k/$s"))
      }.toMap
      assert(m == disk, s"$k post-compaction manifest $m != disk $disk")
    }
    // A deleted (lost) manifest heals from a listing on next use.
    val hp = hpSnapshot(state).keys.head
    assert(new java.io.File(s"$state/$hp/_segs").delete())
    Maintenance
      .incrementalDupSpans(spark, b(5L), "doc_id", "text", state, Some(5L), maxStateSegments = 99)
    val healed = readManifest(state, hp)
    val diskNow = segDirs(state, hp).map { s =>
      s.stripPrefix("seg=") -> dirBytes(new java.io.File(s"$state/$hp/$s"))
    }.toMap
    assert(healed == diskNow, s"healed manifest $healed != disk $diskNow")
    // A phantom entry (dir gone, entry huge) must neither crash the
    // planner nor survive the next compaction pass.
    val phantom = diskNow + ("bghost" -> 1L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/$hp/_segs"),
      phantom.toSeq.sorted.map { case (n, b2) => s"$n\t$b2" }.mkString("\n")
    )
    Maintenance
      .incrementalDupSpans(spark, b(6L), "doc_id", "text", state, Some(6L), maxStateSegments = 2)
    assert(
      !readManifest(state, hp).contains("bghost"),
      s"phantom entry must be dropped: ${readManifest(state, hp)}"
    )
    // And the semantic state still equals a one-shot build.
    val oneShot = s"$root/oneshot"
    val all = (0L to 6L).map(i => (i, s"k1 k2 k3 k4 k5 k6 k7 v$i")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, all, "doc_id", "text", oneShot, Some(0L))
    assert(stateRows(state) == stateRows(oneShot), "manifest machinery must not affect the fold")
  }

  test("per-batch driver metadata calls stay O(touched buckets), independent of segment count") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-metacalls").toString
    val state = s"$root/spans"
    // Narrow vocab → few buckets, many segments: 12 ingests leave every
    // touched partition holding ~12 segments.
    def b(id: Long) = Seq((id, s"k1 k2 k3 k4 k5 k6 k7 v$id")).toDF("doc_id", "text")
    (0L to 11L).foreach { i =>
      Maintenance
        .incrementalDupSpans(spark, b(i), "doc_id", "text", state, Some(i), maxStateSegments = 99)
    }
    graft.operators.SpanStateMeta.reset()
    Maintenance
      .incrementalDupSpans(spark, b(50L), "doc_id", "text", state, Some(50L), maxStateSegments = 99)
    val calls = graft.operators.SpanStateMeta.count
    // The batch holds 6 shingles → ≤ 6 touched buckets; the bound is a
    // small constant per touched bucket (probe 2, append summary 1,
    // manifest read+write 2) — NOT per segment, which at 12 segments
    // per bucket would already blow through this ceiling.
    assert(calls <= 6 * 6 + 8, s"metadata calls must not scale with segment count: $calls")
  }

  test("spanStateReport reads sizes from manifests and recommends the SCALE-rule bucket count") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-report").toString
    val state = s"$root/spans"
    val corpus = (1 to 30)
      .map(i => (i.toLong, (1 to 15).map(t => s"r${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, corpus, "doc_id", "text", state, Some(0L), stateBuckets = 8)
    val diskTotal = hpSnapshot(state).keys.map { k =>
      segDirs(state, k).map(s => dirBytes(new java.io.File(s"$state/$k/$s"))).sum
    }.sum
    val r = Maintenance.spanStateReport(spark, state)
    assert(r.buckets == 8)
    assert(r.totalBytes == diskTotal, s"manifest total ${r.totalBytes} != disk $diskTotal")
    assert(r.maxBucketBytes >= r.p50BucketBytes && r.maxSegments >= 1)
    // The recommendation follows the byte budget: a tiny budget asks
    // for ~one bucket per budget-chunk of state.
    val fine = Maintenance.spanStateReport(spark, state, targetTaskBytes = 4096)
    assert(
      fine.recommendedBuckets == math.ceil(diskTotal / 4096.0).toInt,
      s"recommendation must follow bytes/budget: ${fine.recommendedBuckets}"
    )
    // CLI smoke.
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "span_state_report", "--state", state),
      spark
    )
  }

  test("compactSpanState --buckets re-shards: view, probes, and applied-id marker survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = Files.createTempDirectory("graft-spans-reshard").toString
    val state = s"$root/spans"
    // Wide vocab so many buckets populate, plus a shared run for probes.
    val corpus = ((1 to 40)
      .map(i => (i.toLong, (1 to 12).map(t => s"w${i}_$t").mkString(" "))) :+
      (50L, "k1 k2 k3 k4 k5 k6 k7 pad1 pad2") :+
      (51L, "k1 k2 k3 k4 k5 k6 k7 pad3 pad4"))
      .toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, corpus, "doc_id", "text", state, Some(0L), stateBuckets = 8)
    Maintenance.incrementalDupSpans(
      spark,
      Seq((100L, "y1 y2 y3 y4 y5 y6 y7 y8")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(1L),
      stateBuckets = 8
    )
    assert(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$state/_buckets")).trim == "8"
    )
    val viewBefore = stateRows(state)
    // Re-shard 8 -> 16: the pin must change, every partition rewritten.
    val (done, total) = Maintenance.compactSpanState(spark, state, newBuckets = Some(16))
    assert(done == total && total > 8, s"re-shard rewrites everything: $done of $total")
    assert(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$state/_buckets")).trim == "16",
      "bucket pin replaced"
    )
    assert(stateRows(state) == viewBefore, "re-shard must not change the state view")
    // Rows actually live in their new-hash bucket: read each hp dir and
    // check pmod(h, 16) == hp.
    hpSnapshot(state).keys.foreach { k =>
      val hp = k.stripPrefix("hp=").toInt
      val bad = spark.read
        .option("basePath", state)
        .parquet(s"$state/$k")
        .filter(org.apache.spark.sql.functions.pmod(col("h"), lit(16L)).cast("int") =!= hp)
        .count()
      assert(bad == 0L, s"$k holds $bad rows whose hash prefix belongs elsewhere")
    }
    // The exactly-once marker survives: a replay of the LAST ingest
    // batch is still a fold no-op under the new sharding.
    val snap = hpSnapshot(state)
    Maintenance.incrementalDupSpans(
      spark,
      Seq((100L, "y1 y2 y3 y4 y5 y6 y7 y8")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(1L)
    )
    assert(hpSnapshot(state) == snap, "replay after re-shard must not re-append")
    // Probes against the re-sharded state stay correct (cross-batch
    // extent through the k-run), and the bucket parameter of the new
    // ingest is ignored in favor of the new pin.
    val e = Maintenance
      .incrementalDupSpans(
        spark,
        Seq((200L, "z0 k1 k2 k3 k4 k5 k6 k7 z1 z2")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(2L),
        stateBuckets = 8
      )
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e == Set((200L, 1, 7, 7L)), s"re-sharded state must serve the probe: $e")
    // Down-shard back to 4 — same invariants, and the one-shot replica
    // over all ingested docs agrees with the final state.
    val viewAfterIngest = stateRows(state)
    Maintenance.compactSpanState(spark, state, newBuckets = Some(4))
    assert(stateRows(state) == viewAfterIngest, "down-shard preserves the view")
    assert(hpSnapshot(state).size <= 4, "down-shard consolidates the partition dirs")
  }

  test("compactSpanState sub-splits a big bucket's write across tasks (files ∝ bytes, not buckets)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-spans-subsplit").toString
    val state = s"$root/spans"
    // FEW buckets, many hashes: with one-task-per-bucket writes each
    // bucket would be a single file however large it grows.
    val corpus = (1 to 60)
      .map(i => (i.toLong, (1 to 20).map(t => s"w${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, corpus, "doc_id", "text", state, Some(0L), stateBuckets = 2)
    Maintenance.incrementalDupSpans(
      spark,
      Seq((500L, "q1 q2 q3 q4 q5 q6")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(1L),
      stateBuckets = 2
    )
    val viewBefore = stateRows(state)
    // A tiny task budget forces the sub-split; the two buckets' merged
    // segments must each land as MULTIPLE h-disjoint files.
    Maintenance.compactSpanState(spark, state, targetTaskBytes = 8 * 1024)
    val filesPerBucket = hpSnapshot(state).map { case (k, files) => k -> files.size }
    assert(
      filesPerBucket.values.exists(_ > 1),
      s"sub-split must write >1 file for a bucket above the task budget: $filesPerBucket"
    )
    assert(stateRows(state) == viewBefore, "sub-split rewrite preserves the view")
    // h-disjoint files: pushed-filter probes stay prunable — assert no
    // h range overlap within a bucket via per-file min/max.
    import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
    hpSnapshot(state).keys.foreach { k =>
      val ranges = spark.read
        .option("basePath", state)
        .parquet(s"$state/$k")
        .groupBy(input_file_name())
        .agg(fmin(col("h")).as("mn"), fmax(col("h")).as("mx"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, aMax), (bMin, _)) =>
          assert(aMax < bMin, s"$k: file h-ranges overlap ($aMax >= $bMin)")
        case _ =>
      }
    }
  }

  test("span_state_compact CLI verb re-shards via --buckets") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-reshard-cli").toString
    val state = s"$root/spans"
    Maintenance.incrementalDupSpans(
      spark,
      Seq((1L, "a1 a2 a3 a4 a5 a6"), (2L, "a1 a2 a3 a4 a5 a6")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(0L),
      stateBuckets = 8
    )
    val viewBefore = stateRows(state)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "span_state_compact", "--state", state, "--buckets", "16"),
      spark
    )
    assert(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$state/_buckets")).trim == "16"
    )
    assert(stateRows(state) == viewBefore, "CLI re-shard preserves the view")
  }

  test("incrementalDupSpans: checkDocIdReuse fails a re-used id, passes replays and fresh ids") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-reuse").toString
    val state = s"$root/spans"
    val b0 = Seq(
      (1L, "a1 a2 a3 a4 a5 a6"),
      (2L, "b1 b2 b3 b4 b5 b6")
    ).toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L), checkDocIdReuse = true)
    // A replay of the applied batch is marker-identified — not reuse.
    Maintenance
      .incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L), checkDocIdReuse = true)
    // A fresh-id batch passes.
    Maintenance.incrementalDupSpans(
      spark,
      Seq((10L, "c1 c2 c3 c4 c5 c6")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(1L),
      checkDocIdReuse = true
    )
    // Re-using id 2 under a NEW batch id (the changed-text re-crawl
    // shape) fails, naming the offender.
    val ex = intercept[IllegalArgumentException] {
      Maintenance.incrementalDupSpans(
        spark,
        Seq((2L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(2L),
        checkDocIdReuse = true
      )
    }
    assert(ex.getMessage.contains("2"), s"offending id named: ${ex.getMessage}")
    // Off by default: the same call without the gate proceeds.
    Maintenance.incrementalDupSpans(
      spark,
      Seq((2L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(2L)
    )
  }

  test("checkDocIdReuse fails fast on a non-integral id type instead of silently passing") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-idtype").toString
    val state = s"$root/spans"
    Maintenance.incrementalDupSpans(
      spark,
      Seq((1L, "a1 a2 a3 a4 a5 a6")).toDF("doc_id", "text"),
      "doc_id",
      "text",
      state,
      Some(0L)
    )
    // A string-typed id casts to null on the gate's long comparison —
    // the semi-join would match nothing and the audit would silently
    // pass. It must refuse the type up front instead.
    val ex = intercept[IllegalArgumentException] {
      Maintenance.incrementalDupSpans(
        spark,
        Seq(("1", "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(1L),
        checkDocIdReuse = true
      )
    }
    assert(ex.getMessage.contains("integral"), s"type named in the failure: ${ex.getMessage}")
  }

  test("checkDocIdReuse: a crash-window replay (appended segments, lost marker) still passes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-reuse-crash").toString
    val state = s"$root/spans"
    val b0 = Seq((1L, "a1 a2 a3 a4 a5 a6")).toDF("doc_id", "text")
    val b1 = Seq((2L, "c1 c2 c3 c4 c5 c6")).toDF("doc_id", "text")
    Maintenance
      .incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L), checkDocIdReuse = true)
    Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L), checkDocIdReuse = true)
    // Fabricate the crash window: b1's segments are in, but the marker
    // rolled back — the gate must recognize the seg=b1 dirs as this
    // batch's own prior attempt, not as doc_id reuse.
    val hfs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = hfs.create(new org.apache.hadoop.fs.Path(s"$state/_applied_id"), true)
    mk.write("0".getBytes("UTF-8"))
    mk.close()
    // Must not throw — the documented idempotent re-append.
    Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L), checkDocIdReuse = true)
    // And a genuinely re-used id still fails.
    intercept[IllegalArgumentException] {
      Maintenance.incrementalDupSpans(
        spark,
        Seq((1L, "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "text"),
        "doc_id",
        "text",
        state,
        Some(9L),
        checkDocIdReuse = true
      )
    }
  }

  test("incrementalDupSpans: childless hp dirs from a mkdirs-then-crash never break the probe") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-emptyhp").toString
    val state = s"$root/spans"
    val b0 = Seq((1L, "a1 a2 a3 a4 a5 a6"), (2L, "a1 a2 a3 a4 a5 a6")).toDF("doc_id", "text")
    val e0 = Maintenance
      .incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e0.nonEmpty, "fixture must produce extents")
    // Fabricate the crash: every populated bucket loses its segments
    // but keeps the (now childless) hp= dir — the worst case, where
    // every path the probe prunes to is empty.
    hpSnapshot(state).keys.foreach { k =>
      segDirs(state, k).foreach { seg =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$state/$k/$seg"))
      }
    }
    // The replay must not throw (schema inference over empty dirs) and
    // still recomputes its within-batch extents.
    val e1 = Maintenance
      .incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e1 == e0, s"probe over childless dirs must fall back cleanly: $e1 vs $e0")
  }

  test("incrementalDupSpans: a pre-segment partitioned state migrates in place on entry") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-v2").toString
    val state = s"$root/spans"
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", state, Some(0L))
    // Fabricate the pre-segment layout: hoist every segment's files to
    // its hp= dir, drop the seg dirs and the _segmented marker — what
    // the dirty-rewrite fold used to write.
    hpSnapshot(state).keys.foreach { k =>
      val hpDir = new java.io.File(s"$state/$k")
      var i = 0
      segDirs(state, k).foreach { seg =>
        new java.io.File(hpDir, seg).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          assert(f.renameTo(new java.io.File(hpDir, s"v2_$i.parquet")))
          i += 1
        }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(hpDir, seg))
      }
    }
    assert(new java.io.File(s"$state/_segmented").delete())
    val b1 = Seq((10L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text")
    val e1 = Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e1 == Set((10L, 1, 7, 7L)), s"migrated state must serve the cross-batch probe: $e1")
    assert(new java.io.File(s"$state/_segmented").exists(), "migration re-marked")
    val replica = s"$root/replica"
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", replica, Some(0L))
    Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", replica, Some(1L))
    assert(stateRows(state) == stateRows(replica), "migrated state must equal the replica")
  }

  test("incrementalDupSpans: a crash between partition swaps rolls forward on the next batch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-pcrash").toString
    val state = s"$root/spans"
    val replica = s"$root/replica"
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    val b1 = Seq((10L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text")
    val b2 = Seq((20L, "e1 c2 c3 c4 c5 c6 c7 e2 e3 e4 e5 e6 e7")).toDF("doc_id", "text")
    def ingest(st: String, df: org.apache.spark.sql.DataFrame, id: Long) =
      Maintenance
        .incrementalDupSpans(spark, df, "doc_id", "text", st, Some(id))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
    ingest(state, b0, 0L)
    ingest(replica, b0, 0L)
    // Snapshot the pre-b1 content, apply b1, then fabricate the crash
    // window for one partition b1 changed: its OLD content sits aside in
    // .__pfold_old, its NEW content is still pending in .__pfold_tmp
    // (commit written, swap half-done), the root marker not yet
    // finalized.
    val refDir = s"$root/ref"
    org.apache.commons.io.FileUtils
      .copyDirectory(new java.io.File(state), new java.io.File(refDir))
    ingest(state, b1, 1L)
    ingest(replica, b1, 1L)
    val refSnap = hpSnapshot(refDir)
    val curSnap = hpSnapshot(state)
    val changed = refSnap.keySet.intersect(curSnap.keySet).filter(k => refSnap(k) != curSnap(k))
    assert(changed.nonEmpty, "b1 must change at least one pre-existing partition")
    val k = changed.head
    val tmp = new java.io.File(s"$state.__pfold_tmp")
    val old = new java.io.File(s"$state.__pfold_old")
    assert(tmp.mkdirs() && old.mkdirs())
    // New content back into tmp (pending), old content aside in old.
    assert(new java.io.File(s"$state/$k").renameTo(new java.io.File(tmp, k)))
    org.apache.commons.io.FileUtils
      .copyDirectory(new java.io.File(s"$refDir/$k"), new java.io.File(old, k))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$state/_buckets"),
      java.nio.file.Paths.get(s"$state.__pfold_tmp/_buckets")
    )
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$state.__pfold_tmp/_applied_id"), "1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__pfold_tmp/_commit"),
      "partial id"
    )
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$state/_applied_id"), "0")
    // Next batch must roll the crashed fold forward on entry and then
    // behave exactly like the uncrashed replica.
    val e2 = ingest(state, b2, 2L)
    val e2ref = ingest(replica, b2, 2L)
    assert(e2 == e2ref && e2.nonEmpty, s"post-recovery extents must match the replica: $e2 vs $e2ref")
    assert(stateRows(state) == stateRows(replica), "recovered state must equal the replica")
    assert(!tmp.exists() && !old.exists(), "tmp/old cleaned after roll-forward")
  }

  test("incrementalDupSpans: a legacy unpartitioned state migrates on its next fold") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-spans-legacy").toString
    val state = s"$root/spans"
    val b0 = Seq(
      (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6"),
      (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7")
    ).toDF("doc_id", "text")
    // Fabricate the pre-partition layout: bare (h, mn_doc, mx_doc)
    // parquet at the state root, no _buckets pin — what the old
    // whole-rewrite fold wrote.
    val scratch = s"$root/scratch"
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", scratch, Some(0L))
    spark.read
      .parquet(scratch)
      .select("h", "mn_doc", "mx_doc")
      .write
      .parquet(state)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$state/_applied_id"), "0")
    val b1 = Seq((10L, "c1 X1 X2 X3 X4 X5 X6 X7 c2 c3 c4 c5 c6 c7")).toDF("doc_id", "text")
    val e1 = Maintenance
      .incrementalDupSpans(spark, b1, "doc_id", "text", state, Some(1L))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(e1 == Set((10L, 1, 7, 7L)), s"legacy state must serve the cross-batch probe: $e1")
    assert(new java.io.File(s"$state/_buckets").exists(), "state migrated to the partitioned layout")
    assert(hpSnapshot(state).nonEmpty, "hp= partitions written")
    val replica = s"$root/replica"
    Maintenance.incrementalDupSpans(spark, b0, "doc_id", "text", replica, Some(0L))
    Maintenance.incrementalDupSpans(spark, b1, "doc_id", "text", replica, Some(1L))
    assert(stateRows(state) == stateRows(replica), "migrated state must equal the replica")
  }

  test("snapshot_diff CLI verb equals the library call") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-diff-cli").toString
    val o = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val n = Seq((2L, "b2"), (3L, "c"), (4L, "d"))
    o.toDF("doc_id", "text").write.parquet(s"$root/old")
    n.toDF("doc_id", "text").write.parquet(s"$root/new")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "snapshot_diff",
        "--old", s"$root/old",
        "--new", s"$root/new",
        "--content_cols", "text",
        "--out", s"$root/diff"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/diff")
    val viaLib = Maintenance.snapshotDiff(
      o.toDF("doc_id", "text"),
      n.toDF("doc_id", "text"),
      "doc_id",
      Seq("text")
    )
    assert(out.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet)
  }

  test("snapshotDiff: all four statuses; multi-column fingerprints see any changed column") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "alpha", "web"), (2L, "beta", "web"), (3L, "gamma", "code"), (4L, "delta", "web")
    ).toDF("doc_id", "text", "source")
    val newSnap = Seq(
      (1L, "alpha", "web"),      // unchanged
      (2L, "beta v2", "web"),    // text changed
      (3L, "gamma", "books"),    // only the second content col changed
      (5L, "epsilon", "web")     // added; 4 removed
    ).toDF("doc_id", "text", "source")
    val got = Maintenance
      .snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text", "source"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    assert(
      got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed", 4L -> "removed", 5L -> "added")
    )
    // Single-column fingerprint ignores the source-only change.
    val textOnly = Maintenance
      .snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    assert(textOnly(3L) == "unchanged" && textOnly(2L) == "changed")
    // The separator keeps adjacent columns from aliasing: ("ab", "c")
    // vs ("a", "bc") must register as changed.
    val aliasedOld = Seq((1L, "ab", "c")).toDF("doc_id", "x", "y")
    val aliasedNew = Seq((1L, "a", "bc")).toDF("doc_id", "x", "y")
    val aliased = Maintenance
      .snapshotDiff(aliasedOld, aliasedNew, "doc_id", Seq("x", "y"))
      .head()
    assert(aliased.getString(3) == "changed")
    assert(intercept[IllegalArgumentException] {
      Maintenance.snapshotDiff(oldSnap, newSnap, "doc_id", Nil)
    }.getMessage.contains("content column"))
  }

  test("snapshotDiff fingerprints are NULL-safe: null swaps and null<->empty both register") {
    import spark.implicits._
    // The concat_ws fingerprint this replaces SKIPPED nulls: ("x", null)
    // and (null, "x") hashed identically, and null vs "" was invisible —
    // a changed doc reporting `unchanged` in a takedown-verification
    // tool. Three adversarial transitions, all must be `changed`:
    val oldSnap = Seq(
      (1L, Some("x"), None: Option[String]),  // -> (null, "x"): column swap across a null
      (2L, None: Option[String], Some("y")),  // -> ("", "y"): null -> empty string
      (3L, Some(""), Some("y"))               // -> (null, "y"): empty string -> null
    ).toDF("doc_id", "a", "b")
    val newSnap = Seq(
      (1L, None: Option[String], Some("x")),
      (2L, Some(""), Some("y")),
      (3L, None: Option[String], Some("y"))
    ).toDF("doc_id", "a", "b")
    val got = Maintenance
      .snapshotDiff(oldSnap, newSnap, "doc_id", Seq("a", "b"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(3))
      .toMap
    assert(got == Map(1L -> "changed", 2L -> "changed", 3L -> "changed"), got.toString)
    // identical rows WITH nulls still fingerprint as unchanged
    val same = Maintenance
      .snapshotDiff(oldSnap, oldSnap, "doc_id", Seq("a", "b"))
      .collect()
      .map(_.getString(3))
    assert(same.forall(_ == "unchanged"))
  }

  test("writer lease: concurrent whole-swap folds are refused loudly; same-token retry re-enters") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-lease-fold").toString + "/rollup.parquet"
    val b = Seq(("a", 10L)).toDF("k", "v")
    Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(0L)).count()
    // the lease is released on success
    assert(!new java.io.File(state + ".__writer").exists())
    // a LIVE writer (fold id 1 mid-flight, simulated by its lease):
    // a different-id fold must refuse loudly, state untouched — the
    // unfenced behavior was last-swap-wins, silently dropping the
    // first batch's rows
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state + ".__writer"), "fold:1")
    val e = intercept[IllegalArgumentException] {
      Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(2L))
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    // the crashed writer's retry (same id -> same token) re-enters,
    // completes, and releases
    val after = Maintenance
      .refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(1L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == Set(("a", 20L, 2L)))
    assert(!new java.io.File(state + ".__writer").exists())
  }

  test("writer lease: span-state ingest and compaction are fenced too") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lease-span").toString
    val state = s"$root/spans"
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, d, "doc_id", "text", state, Some(0L), stateBuckets = 4)
      .count()
    assert(!new java.io.File(state + ".__writer").exists(), "lease released after ingest")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state + ".__writer"), "fold:9")
    val e = intercept[IllegalArgumentException] {
      Maintenance.incrementalDupSpans(
        spark, d.withColumn("doc_id", col("doc_id") + 10), "doc_id", "text",
        state, Some(1L), stateBuckets = 4)
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.compactSpanState(spark, state)
    }
    assert(e2.getMessage.contains("writer lease"), e2.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(state + ".__writer"))
    // with the stale lease cleared, both proceed
    Maintenance.incrementalDupSpans(
      spark, d.withColumn("doc_id", col("doc_id") + 10), "doc_id", "text",
      state, Some(1L), stateBuckets = 4).count()
    Maintenance.compactSpanState(spark, state)
    assert(!new java.io.File(state + ".__writer").exists())
  }

  test("lease runbook: body carries host/pid/created-at; report reads r16 and r15 formats") {
    val body = DurableRoot.leaseBody("fold:7")
    assert(DurableRoot.leaseTokenOf(body) == "fold:7")
    val f = DurableRoot.leaseFields(body)
    assert(f.contains("host") && f.contains("pid") && f.contains("created_at"), f.toString)
    assert(f("pid").toLongOption.nonEmpty && f("created_at").toLongOption.nonEmpty)

    val state = Files.createTempDirectory("graft-lease-report").toString + "/state"
    assert(DurableRoot.leaseReport(spark, state).isEmpty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state + ".__writer"), body)
    val Some((token, fields)) = DurableRoot.leaseReport(spark, state)
    assert(token == "fold:7" && fields("pid") == f("pid"))
    // r15 format (bare token): token parses, fields report empty
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state + ".__writer"), "fold:9")
    val Some((t15, f15)) = DurableRoot.leaseReport(spark, state)
    assert(t15 == "fold:9" && f15.isEmpty)
  }

  test("lease_break: refuses while fresh, breaks after the threshold and after a crash") {
    val state = Files.createTempDirectory("graft-lease-break").toString + "/state"
    val lease = java.nio.file.Paths.get(state + ".__writer")
    // fresh lease (just created): refused under the default threshold
    java.nio.file.Files.writeString(lease, DurableRoot.leaseBody("fold:1"))
    val e = intercept[IllegalArgumentException](DurableRoot.leaseBreak(spark, state))
    assert(e.getMessage.contains("LIVE writer"), e.getMessage)
    assert(java.nio.file.Files.exists(lease), "a refused break must not touch the lease")
    // the same lease under a zero threshold (operator confirmed the crash): broken
    val (token, fields) = DurableRoot.leaseBreak(spark, state, minAgeMs = 0L)
    assert(token == "fold:1" && fields.contains("pid"))
    assert(!java.nio.file.Files.exists(lease))
    // r15-format lease (no created-at): treated as old — breakable
    java.nio.file.Files.writeString(lease, "fold:2")
    assert(DurableRoot.leaseBreak(spark, state)._1 == "fold:2")
    assert(!java.nio.file.Files.exists(lease))
    // no lease at all: loud
    val e2 = intercept[IllegalArgumentException](DurableRoot.leaseBreak(spark, state))
    assert(e2.getMessage.contains("no writer lease"), e2.getMessage)
  }

  test("lease refusal names the runbook verbs; empty lease is stale and self-heals") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-lease-msg").toString + "/rollup.parquet"
    val b = Seq(("a", 1L)).toDF("k", "v")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state + ".__writer"), DurableRoot.leaseBody("fold:1"))
    val e = intercept[IllegalArgumentException] {
      Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(2L))
    }
    // the runbook is mechanical now: the message points at the verbs,
    // not at hand-deleting the lease file
    assert(e.getMessage.contains("lease_report"), e.getMessage)
    assert(e.getMessage.contains("lease_break"), e.getMessage)
    assert(!e.getMessage.contains("manually"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(state + ".__writer"))
    // EMPTY lease file (pre-r16 crash between create and token write):
    // stale by protocol — the writer removes it and proceeds instead of
    // wedging on holder ''
    java.nio.file.Files.writeString(java.nio.file.Paths.get(state + ".__writer"), "")
    Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = Some(0L)).count()
    assert(!new java.io.File(state + ".__writer").exists())
  }

  test("id-less writers never share a token: an adhoc lease refuses a second adhoc fold") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-lease-adhoc").toString + "/rollup.parquet"
    val b = Seq(("a", 1L)).toDF("k", "v")
    // a successful id-less fold releases its (unique) lease
    Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = None).count()
    assert(!new java.io.File(state + ".__writer").exists())
    // a crashed/concurrent id-less writer's lease: r15's constant
    // 'fold:adhoc' token made a second id-less fold silently RE-ENTER
    // (the exact last-swap-wins race, wearing a fence); r16 tokens are
    // unique per attempt, so it refuses loudly
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(state + ".__writer"),
      DurableRoot.leaseBody("adhoc:fold:11111111-2222-3333-4444-555555555555"))
    val e = intercept[IllegalArgumentException] {
      Maintenance.refreshAggregate(spark, b, Seq("k"), Seq("v"), state, appliedId = None)
    }
    assert(e.getMessage.contains("writer lease"), e.getMessage)
  }

  test("spanStateView heals a crashed swap; refuses to heal under a live lease") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-span-readlease").toString
    val state = s"$root/spans"
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    Maintenance.incrementalDupSpans(spark, d, "doc_id", "text", state, Some(0L), stateBuckets = 4)
      .count()
    val n = Maintenance.spanStateView(spark, state).count()
    assert(n > 0)
    def mv(a: String, b: String): Unit =
      java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))
    // legacy whole-dir swap strand: the reader heals it when no lease
    mv(state, s"$state.__refresh_old")
    assert(Maintenance.spanStateView(spark, state).count() == n, "reader must heal the strand")
    assert(new java.io.File(state).exists())
    // the same strand under a LIVE lease: refuse (writer may be mid-swap)
    mv(state, s"$state.__refresh_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"), DurableRoot.leaseBody("fold:3"))
    val e = intercept[IllegalArgumentException](Maintenance.spanStateView(spark, state))
    assert(e.getMessage.contains("refusing to heal under a lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state.__writer"))
    assert(Maintenance.spanStateView(spark, state).count() == n)
    // live lease + nothing stranded: plain reads proceed
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"), DurableRoot.leaseBody("fold:4"))
    assert(Maintenance.spanStateView(spark, state).count() == n)
    // the sizing report reads the same root through the same heal: a
    // strand it skipped read as "no _buckets pin" (or, for a bucket
    // stranded in .__pfold_old, silently dropped out of the totals)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state.__writer"))
    val report = Maintenance.spanStateReport(spark, state)
    mv(state, s"$state.__refresh_old")
    assert(Maintenance.spanStateReport(spark, state) == report, "report must heal the strand")
    mv(state, s"$state.__refresh_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"), DurableRoot.leaseBody("fold:5"))
    val e2 = intercept[IllegalArgumentException](Maintenance.spanStateReport(spark, state))
    assert(e2.getMessage.contains("refusing to heal under a lease"), e2.getMessage)
  }

  test("cardinalityEstimates heals a crashed swap; refuses to heal under a live lease") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-card-readlease").toString + "/card"
    Maintenance.refreshCardinality(
      spark, Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("k", "t"), Seq("k"), "t", state, Some(1L))
    def estimates = Maintenance.cardinalityEstimates(spark, state)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set(("a", 2L, 2L), ("b", 1L, 1L))
    assert(estimates == expected)
    def mv(a: String, b: String): Unit =
      java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))
    // a refreshCardinality crash between the swap's two renames strands
    // the state as .__refresh_old: the reader heals it when no lease
    mv(state, s"$state.__refresh_old")
    assert(estimates == expected, "reader must heal the strand")
    assert(new java.io.File(state).exists() && !new java.io.File(s"$state.__refresh_old").exists())
    // the same strand under a LIVE lease: refuse (writer may be mid-swap)
    mv(state, s"$state.__refresh_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"), DurableRoot.leaseBody("fold:2"))
    val e = intercept[IllegalArgumentException](Maintenance.cardinalityEstimates(spark, state))
    assert(e.getMessage.contains("refusing to heal under a lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state.__writer"))
    assert(estimates == expected)
    // live lease + nothing stranded: plain reads proceed
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"), DurableRoot.leaseBody("fold:3"))
    assert(estimates == expected)
  }

  test("dedup index writers are fenced: adhoc refusal, batch-id re-entry on replay") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lease-dedup").toString
    val index = s"$root/index"
    val b = Seq((1L, "some document text here")).toDF("doc_id", "text")
    // a successful incrementalDedup releases its (unique adhoc) lease
    assert(Maintenance.incrementalDedup(spark, b, "doc_id", "text", index).count() == 1)
    assert(!new java.io.File(index + ".__writer").exists())
    // a live foreign lease (concurrent batch or crashed one): refused —
    // two concurrent batches sharing a content hash would BOTH pass the
    // index probe and both land in the corpus
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(index + ".__writer"), DurableRoot.leaseBody("adhoc:dedup:x"))
    val e = intercept[IllegalArgumentException](
      Maintenance.incrementalDedup(spark, b, "doc_id", "text", index))
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(index + ".__writer"))
    // streaming arm: batch-id-keyed token — a crashed batch's replay
    // carries the same id and RE-ENTERS its stale lease, converging
    val corpus = s"$root/corpus"
    val sIndex = s"$root/singest"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sIndex + ".__writer"), DurableRoot.leaseBody("fold:0"))
    val n = graft.streaming.StreamingPipeline
      .dedupIngestBatch(spark, b, corpus, sIndex, batchId = 0L)
    assert(n == 1L, "same-id replay must re-enter and complete")
    assert(!new java.io.File(sIndex + ".__writer").exists(), "lease released")
    // a DIFFERENT batch id against a live lease refuses
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sIndex + ".__writer"), DurableRoot.leaseBody("fold:7"))
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.StreamingPipeline
        .dedupIngestBatch(spark, b, corpus, sIndex, batchId = 1L))
    assert(e2.getMessage.contains("writer lease"), e2.getMessage)
  }

  test("compact is fenced: refuses under a live lease, proceeds after it clears") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lease-compact").toString + "/data.parquet"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v").repartition(4).write.parquet(dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir + ".__writer"), DurableRoot.leaseBody("fold:3"))
    val e = intercept[IllegalArgumentException](Maintenance.compact(spark, dir))
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir + ".__writer"))
    assert(Maintenance.compact(spark, dir) >= 1)
    assert(!new java.io.File(dir + ".__writer").exists(), "compact releases its lease")
    assert(spark.read.parquet(dir).count() == 2L)
  }
}
