package graft

import graft.operators.Packing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental sequence packing: append-only offset contract, replay
  * convergence, and both crash windows of the base-recording protocol.
  */
class PackingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-packing-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  import spark.implicits._

  private def corpus(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (0 to i % 7).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")

  private def manifestRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("doc_id"), col("start_tok"), col("n_toks"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)

  test("lengthGroupedBatches: ascending-length layout, atomic batches, deterministic ties") {
    // 7 pairs, batchSize 3: sorted by (len, conv, parent) ->
    // batches [1,2,2], [3,5,8], [9] — ties at len 2 break by key
    val rows = Seq(
      (1L, 0L, 5L), (1L, 3L, 2L), (2L, 0L, 9L), (2L, 3L, 1L),
      (3L, 0L, 2L), (3L, 3L, 8L), (4L, 0L, 3L)
    ).toDF("conv_id", "parent_id", "total_toks")
    val got = graft.operators.Packing
      .lengthGroupedBatches(rows, Seq("conv_id", "parent_id"), "total_toks", batchSize = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      (2L, 3L) -> ((0L, 0L)), // len 1
      (1L, 3L) -> ((0L, 1L)), // len 2, conv 1 before conv 3
      (3L, 0L) -> ((0L, 2L)),
      (4L, 0L) -> ((1L, 0L)), // len 3
      (1L, 0L) -> ((1L, 1L)), // len 5
      (3L, 3L) -> ((1L, 2L)), // len 8
      (2L, 0L) -> ((2L, 0L))  // len 9, partial final batch
    ), got.toString)
    // sorted contiguity = minimal padding for fixed batch cuts: each
    // batch's members are consecutive in global length order
    val byBatch = got.values.groupBy(_._1)
    assert(byBatch(0L).size == 3 && byBatch(1L).size == 3 && byBatch(2L).size == 1)
  }

  test("batchPadStats: exact waste and per-mille on the sorted layout; zero-length batch guarded") {
    val rows = Seq(
      (1L, 0L, 5L), (1L, 3L, 2L), (2L, 0L, 9L), (2L, 3L, 1L),
      (3L, 0L, 2L), (3L, 3L, 8L), (4L, 0L, 3L)
    ).toDF("conv_id", "parent_id", "total_toks")
    val got = graft.operators.Packing
      .batchPadStats(
        graft.operators.Packing
          .lengthGroupedBatches(rows, Seq("conv_id", "parent_id"), "total_toks", 3),
        "total_toks")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // batch 0 = [1,2,2]: max 2, sum 5, waste 1, 1000*1/6 = 166
    // batch 1 = [3,5,8]: max 8, sum 16, waste 8, 1000*8/24 = 333
    // batch 2 = [9]: waste 0
    assert(got == Map(
      0L -> ((3L, 2L, 5L, 1L, 166L)),
      1L -> ((3L, 8L, 16L, 8L, 333L)),
      2L -> ((1L, 9L, 9L, 0L, 0L))
    ), got.toString)
    // all-zero-length batch: per-mille guarded to 0, not a crash
    val zeros = Seq((1L, 0L, 0L), (2L, 0L, 0L)).toDF("conv_id", "parent_id", "total_toks")
    val z = graft.operators.Packing
      .batchPadStats(
        graft.operators.Packing
          .lengthGroupedBatches(zeros, Seq("conv_id", "parent_id"), "total_toks", 2),
        "total_toks")
      .collect().head
    assert(z.getLong(4) == 0L && z.getLong(5) == 0L)
  }

  test("lengthGroupedBatches: duplicate keys refused loudly; payload columns pass through untouched") {
    val dup = Seq((1L, 0L, 5L), (1L, 0L, 7L)).toDF("conv_id", "parent_id", "total_toks")
    val e = intercept[IllegalArgumentException](
      graft.operators.Packing
        .lengthGroupedBatches(dup, Seq("conv_id", "parent_id"), "total_toks", 2))
    assert(e.getMessage.contains("uniquely"), e.getMessage)
    // extra payload columns (rendered text) must not enter the manifest
    val wide = Seq((1L, 0L, 5L, "payload text")).toDF("conv_id", "parent_id", "total_toks", "prompt")
    val cols = graft.operators.Packing
      .lengthGroupedBatches(wide, Seq("conv_id", "parent_id"), "total_toks", 2)
      .columns.toSet
    assert(cols == Set("conv_id", "parent_id", "total_toks", "batch_id", "pos_in_batch"))
  }

  test("batches append: batch 1 starts at batch 0's total; the union tiles the stream") {
    val root = Files.createTempDirectory("graft-pack").toString
    val b0 = Packing.packIngest(spark, corpus(0 until 40), "doc_id", "text", s"$root/st", 0L)
    val m0 = manifestRows(b0)
    val t0 = m0.map(_._3).sum
    assert(m0.head._2 == 0L)
    val b1 = Packing.packIngest(spark, corpus(40 until 90), "doc_id", "text", s"$root/st", 1L)
    val m1 = manifestRows(b1)
    assert(m1.head._2 == t0, s"batch 1 must start at batch 0's total $t0, got ${m1.head._2}")
    val all = m0 ++ m1
    all.sliding(2).foreach {
      case Seq((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1, "gap/overlap across batches")
      case _                            => ()
    }
  }

  test("replay of an applied id reuses the recorded base — bit-identical manifest") {
    val root = Files.createTempDirectory("graft-pack-replay").toString
    Packing.packIngest(spark, corpus(0 until 30), "doc_id", "text", s"$root/st", 0L).count()
    val first = manifestRows(
      Packing.packIngest(spark, corpus(30 until 60), "doc_id", "text", s"$root/st", 1L)
    )
    // a later batch lands, THEN batch 1 replays (crash-retry after
    // others progressed): its base row pins the original offsets
    Packing.packIngest(spark, corpus(60 until 80), "doc_id", "text", s"$root/st", 2L).count()
    val replayed = manifestRows(
      Packing.packIngest(spark, corpus(30 until 60), "doc_id", "text", s"$root/st", 1L)
    )
    assert(replayed == first, "replay must not move batch 1's offsets")
  }

  test("replay of an applied id with more documents is refused before it records anything") {
    val root = Files.createTempDirectory("graft-pack-replay-grown").toString
    val st = s"$root/st"
    Packing.packIngest(spark, corpus(0 until 20), "doc_id", "text", st, 0L).count()
    Packing.packIngest(spark, corpus(20 until 40), "doc_id", "text", st, 1L).count()
    Packing.packIngest(spark, corpus(40 until 60), "doc_id", "text", st, 2L).count()
    val state = Packing.baseRows(spark, st).toSet
    // applied id 1 replayed with ten extra documents: its recorded base
    // would lay the extra tokens over batch 2's range
    val e = intercept[IllegalArgumentException](
      Packing.packIngest(spark, corpus(20 until 50), "doc_id", "text", st, 1L).count()
    )
    assert(e.getMessage.contains("changed batch content"), e.getMessage)
    assert(Packing.baseRows(spark, st).toSet == state, "a refused replay must leave the offset state as it was")
  }

  test("crash window: base row lost after manifest — replay derives the same base") {
    val root = Files.createTempDirectory("graft-pack-crash").toString
    Packing.packIngest(spark, corpus(0 until 25), "doc_id", "text", s"$root/st", 0L).count()
    val first = manifestRows(
      Packing.packIngest(spark, corpus(25 until 50), "doc_id", "text", s"$root/st", 1L)
    )
    // simulate the crash-before-base-record window: delete batch 1's row
    val basesDir = new java.io.File(s"$root/st/bases/applied_id=1")
    assert(basesDir.exists)
    org.apache.commons.io.FileUtils.deleteDirectory(basesDir)
    val replayed = manifestRows(
      Packing.packIngest(spark, corpus(25 until 50), "doc_id", "text", s"$root/st", 1L)
    )
    assert(replayed == first, "derived base (max prior total) must equal the lost recorded base")
  }

  test("empty batch records base = total and moves nothing") {
    val root = Files.createTempDirectory("graft-pack-empty").toString
    Packing.packIngest(spark, corpus(0 until 20), "doc_id", "text", s"$root/st", 0L).count()
    val empty = Packing.packIngest(
      spark,
      corpus(0 until 0),
      "doc_id",
      "text",
      s"$root/st",
      1L
    )
    assert(empty.count() == 0)
    val next = manifestRows(
      Packing.packIngest(spark, corpus(20 until 40), "doc_id", "text", s"$root/st", 2L)
    )
    val t0 = manifestRows(
      Packing.packIngest(spark, corpus(0 until 20), "doc_id", "text", s"$root/st", 0L)
    ).map(_._3).sum
    assert(next.head._2 == t0, "an empty batch must not shift the stream")
  }

  test("offset state self-compacts; replay of a consolidated id still pins its base") {
    val root = Files.createTempDirectory("graft-pack-compact").toString
    val st = s"$root/st"
    def ingest(id: Long, ids: Range) =
      Packing.packIngest(spark, corpus(ids), "doc_id", "text", st, id, compactEvery = 5)
    val firsts = (0 until 12).map { i =>
      manifestRows(ingest(i.toLong, (i * 10) until (i * 10 + 10)))
    }
    val dirCount = new java.io.File(s"$st/bases")
      .listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("applied_id="))
    assert(dirCount <= 6, s"per-batch dirs must stay bounded by compaction, got $dirCount")
    assert(
      new java.io.File(s"$st/bases").listFiles().exists(_.getName.startsWith("compact_v")),
      "consolidated version expected"
    )
    // replay an id whose row lives only in the consolidation
    val replay0 = manifestRows(ingest(0L, 0 until 10))
    assert(replay0 == firsts.head, "consolidated base must pin the replayed manifest")
    // crash window: per-batch dirs survive a compaction (deletes lost)
    // — duplicated agreeing rows must not confuse the next batch
    val t11 = firsts.flatten.map(_._3).sum
    val next = manifestRows(ingest(12L, 120 until 130))
    assert(next.head._2 == t11, "duplicate agreeing rows must not move the stream")
  }

  test("materializePacks: state-pruned manifests build packs straddling batch boundaries") {
    val root = Files.createTempDirectory("graft-pack-mat").toString
    val st = s"$root/st"
    val mdir = s"$root/m"
    val B = 16L
    // three batches; budget 16 so packs straddle batch boundaries
    val batches = Seq(0 until 20, 20 until 45, 45 until 70)
    batches.zipWithIndex.foreach { case (ids, i) =>
      Packing
        .packIngest(spark, corpus(ids), "doc_id", "text", st, i.toLong, budget = B)
        .write
        .mode("overwrite")
        .parquet(s"$mdir/pack_batch=$i")
    }
    val allDocs = corpus(0 until 70)
    // brute-force expected: every manifest row sliced in memory
    val offsets = (0 until 3).flatMap { i =>
      spark.read
        .parquet(s"$mdir/pack_batch=$i")
        .select(col("doc_id"), col("start_tok"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }.toMap
    val texts = allDocs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    def expected(lo: Long, hi: Long) =
      (for {
        (id, s) <- offsets.toSeq
        (tok, j) <- texts(id).split("\\s+").zipWithIndex
        g = s + j
        if g >= lo && g < hi
      } yield ((g / B, g % B, id, tok))).toSet
    // a window crossing the batch-0/batch-1 boundary
    val total0 = Packing
      .baseRows(spark, st)
      .find(_._1 == 0L)
      .get
      ._4
    val fromPack = total0 / B // the straddling pack
    val got = Packing
      .materializePacks(spark, st, mdir, allDocs, "doc_id", "text", fromPack, fromPack + 2, B)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == expected(fromPack * B, (fromPack + 2) * B), "straddling window mismatch")
    assert(got.map(_._3).size > 1, "window must draw docs from both batches")
    // state-driven pruning: a window inside batch 2 must name only batch 2
    val base2 = Packing.baseRows(spark, st).find(_._1 == 2L).get._3
    val inner = (base2 / B) + 1
    assert(
      Packing.overlappingBatches(spark, st, inner * B, (inner + 1) * B) == Seq(2L),
      "offset state must prune to the single overlapping batch"
    )
    // past the stream's end: empty, with the contract schema
    val past = Packing
      .materializePacks(spark, st, mdir, allDocs, "doc_id", "text", 10000L, 10001L, B)
    assert(past.count() == 0)
    assert(past.columns.toSeq == Seq("pack_id", "pos_in_pack", "doc_id", "token"))
  }

  test("pack_ingest CLI verb writes the batch-keyed manifest") {
    val root = Files.createTempDirectory("graft-pack-cli").toString
    corpus(0 until 15).write.parquet(s"$root/b0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_ingest",
        "--batch", s"$root/b0",
        "--state", s"$root/st",
        "--out", s"$root/manifests",
        "--applied_id", "0"
      ),
      spark
    )
    val m = spark.read.parquet(s"$root/manifests/pack_batch=0")
    assert(m.count() == 15)
    assert(m.columns.toSet.contains("first_pack"))
  }

  test("pack_ingest_by CLI verb writes the domain-keyed manifest") {
    val root = Files.createTempDirectory("graft-packby-cli").toString
    srcCorpus(0 until 15).write.parquet(s"$root/b0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_ingest_by",
        "--batch", s"$root/b0",
        "--state", s"$root/st",
        "--out", s"$root/manifests",
        "--applied_id", "0",
        "--group_col", "src"
      ),
      spark
    )
    val m = spark.read.parquet(s"$root/manifests/pack_batch=0")
    assert(m.count() == 15)
    assert(m.columns.toSet.contains("src"), "manifest must carry the domain")
    // domain-pure streams: every src starts at 0
    val starts = m
      .groupBy(col("src"))
      .agg(min(col("start_tok")).as("s"))
      .collect()
      .map(_.getLong(1))
    assert(starts.forall(_ == 0L))
  }

  test("pack_ingest --bpe_model: the crawl is metered in frozen-tokenizer tokens and still tiles") {
    val root = Files.createTempDirectory("graft-pack-bpe").toString
    // freeze a tokenizer on the full corpus, then pack two batches
    // against it — n_toks in the manifests must be the FROZEN counts,
    // and batch 1 must start at batch 0's total in that metric.
    corpus(0 until 30).write.parquet(s"$root/data/documents.parquet")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "build_bpe_model", "--data", s"$root/data",
        "--model", s"$root/model", "--merges", "6"),
      spark
    )
    Seq(0 until 15, 15 until 30).zipWithIndex.foreach { case (ids, i) =>
      corpus(ids).write.parquet(s"$root/b$i")
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_ingest",
          "--batch", s"$root/b$i",
          "--state", s"$root/st",
          "--out", s"$root/m",
          "--applied_id", i.toString,
          "--bpe_model", s"$root/model"
        ),
        spark
      )
    }
    val frozen = graft.operators.Bpe
      .segmentCountsFrozen(corpus(0 until 30), "doc_id", "text", s"$root/model")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    val all = spark.read
      .option("basePath", s"$root/m")
      .parquet(s"$root/m")
      .select(col("doc_id"), col("start_tok"), col("n_toks"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(all.length == 30)
    all.foreach { case (id, _, n) =>
      assert(n == frozen(id), s"doc $id must be metered in frozen-BPE tokens")
    }
    assert(all.head._2 == 0L)
    all.sliding(2).foreach {
      case Array((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1, "BPE-metered stream must tile")
      case _                              => ()
    }
  }

  test("pack_slices CLI verb materializes a state-pruned pack window") {
    val root = Files.createTempDirectory("graft-packslices-cli").toString
    val allDocs = corpus(0 until 40)
    allDocs.write.parquet(s"$root/docs")
    Seq(0 until 20, 20 until 40).zipWithIndex.foreach { case (ids, i) =>
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_ingest",
          "--batch", { corpus(ids).write.parquet(s"$root/b$i"); s"$root/b$i" },
          "--state", s"$root/st",
          "--out", s"$root/manifests",
          "--applied_id", i.toString,
          "--budget", "16"
        ),
        spark
      )
    }
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_slices",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--out", s"$root/slices",
        "--from", "0", "--to", "2",
        "--budget", "16"
      ),
      spark
    )
    val got = spark.read.parquet(s"$root/slices")
    assert(got.columns.toSeq == Seq("pack_id", "pos_in_pack", "doc_id", "token"))
    assert(got.count() == 32L, "two full 16-token packs")
    // must agree with the library call it fronts
    val direct = graft.operators.Packing
      .materializePacks(spark, s"$root/st", s"$root/manifests", allDocs, "doc_id", "text", 0L, 2L, 16L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val viaCli = got
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(viaCli == direct, "CLI verb must front materializePacks exactly")
  }

  test("pack_epochs + pack_boundaries CLI verbs read an incremental manifest root") {
    val root = Files.createTempDirectory("graft-packsched-cli").toString
    Seq(0 until 20, 20 until 40).zipWithIndex.foreach { case (ids, i) =>
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_ingest",
          "--batch", { corpus(ids).write.parquet(s"$root/b$i"); s"$root/b$i" },
          "--state", s"$root/st",
          "--out", s"$root/manifests",
          "--applied_id", i.toString,
          "--budget", "16"
        ),
        spark
      )
    }
    val man = spark.read.parquet(s"$root/manifests")
    val total = man.agg(sum(col("n_toks"))).head.getLong(0)
    val nPacks = man.agg(max(col("last_pack"))).head.getLong(0) + 1
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_epochs",
        "--manifests", s"$root/manifests",
        "--out", s"$root/sched",
        "--epochs", "2", "--seed", "cli"
      ),
      spark
    )
    val sched = spark.read.parquet(s"$root/sched")
    assert(sched.count() == 2 * nPacks)
    (0 until 2).foreach { e =>
      val ids = sched
        .filter(col("epoch") === e)
        .collect()
        .map(r => r.getAs[Long]("pack_id"))
        .sorted
      assert(ids.toSeq == (0L until nPacks), s"epoch $e must cover the pack space")
    }
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_boundaries",
        "--manifests", s"$root/manifests",
        "--out", s"$root/bnd",
        "--budget", "16"
      ),
      spark
    )
    val bnd = spark.read
      .parquet(s"$root/bnd")
      .collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("pos"), r.getAs[Long]("seg_len")))
    // segments tile every pack ACROSS the two batches' manifests: the
    // union carries global offsets, so the incremental boundary table
    // equals the batch-form one.
    bnd.groupBy(_._1).foreach { case (p, segs) =>
      val sorted = segs.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"pack $p must start at 0")
      sorted.sliding(2).foreach {
        case Array((_, s1, n1), (_, s2, _)) => assert(s2 == s1 + n1, s"pack $p must tile")
        case _                              => ()
      }
      val covered = sorted.last._2 + sorted.last._3
      val want = if (p == total / 16L) total % 16L else 16L
      assert(covered == want, s"pack $p must cover $want, got $covered")
    }
  }

  test("layoutBy domain purity: a source's layout is independent of every other source") {
    // The q114 loader path: filtering the corpus to one source BEFORE
    // layoutBy must give exactly that source's rows of the full
    // mixture layout — per-source offsets start at 0 and never see
    // other domains, so a mixture reweight or per-domain loader never
    // recomputes the corpus.
    val mixed = (0 until 30)
      .map(i => (i.toLong, if (i % 3 == 0) "web" else if (i % 3 == 1) "code" else "books",
        s"tok${i} alpha beta g$i"))
      .toDF("doc_id", "source", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "source", "shard", "start_tok", "n_toks", "end_tok")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
    val full = rows(
      Packing.layoutBy(mixed, "doc_id", "text", "source", 4).filter(col("source") === "code")
    )
    val filteredFirst = rows(
      Packing.layoutBy(mixed.filter(col("source") === "code"), "doc_id", "text", "source", 4)
    )
    assert(full == filteredFirst, "filter-first layout must equal the filtered mixture layout")
  }

  test("layout fails loudly on duplicate doc ids (overlapping offsets forbidden)") {
    val dup = Seq((7L, "a b c"), (7L, "d e"), (8L, "f")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Packing.layout(dup, "doc_id", "text", 4)
    )
    assert(e.getMessage.contains("duplicate doc_id"))
    val eBy = intercept[IllegalArgumentException](
      Packing.layoutBy(
        dup.withColumn("source", lit("web")), "doc_id", "text", "source", 4
      )
    )
    assert(eBy.getMessage.contains("duplicate doc_id"))
  }

  test("layoutBy keeps NULL group keys as their own token stream") {
    val df = Seq(
      (1L, Option("web"), "a b c"),
      (2L, Option.empty[String], "d e"),
      (3L, Option.empty[String], "f")
    ).toDF("doc_id", "source", "text")
    val out = Packing.layoutBy(df, "doc_id", "text", "source", 4)
    assert(out.count() == 3, "null-keyed docs must not vanish from the layout")
    val nulls = out
      .filter(col("source").isNull)
      .select(col("doc_id"), col("start_tok"), col("n_toks"), col("end_tok"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2)
    // the NULL stream is its own contiguous token space from offset 0
    assert(nulls.map(_._1).toSet == Set(2L, 3L))
    assert(nulls.head._2 == 0L)
    assert(nulls.sliding(2).forall {
      case Array((_, _, _, e1), (_, s2, _, _)) => s2 == e1
      case _                                   => true
    })
    assert(nulls.map(_._3).sum == 3L)
    val web = out.filter(col("source") === "web").collect().head
    assert(web.getAs[Long]("start_tok") == 0L && web.getAs[Long]("n_toks") == 3L)
  }

  test("layoutBy cardinality interlock fails loudly on a doc-grained group column") {
    val df = corpus(0 until 30).withColumn("g", concat(lit("u"), col("doc_id")))
    val e = intercept[IllegalArgumentException](
      Packing.layoutBy(df, "doc_id", "text", "g", 2, maxGroups = 2)
    )
    assert(e.getMessage.contains("distinct 'g' groups"))
  }

  test("layoutWeighted: whitespace weights reproduce layout exactly") {
    val df = corpus(0 until 50)
    val viaText = Packing.layout(df, "doc_id", "text", nShards = 4)
    val weighted = Packing.layoutWeighted(
      df.select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("w")),
      "doc_id",
      "w",
      nShards = 4
    )
    assert(viaText.collect().toSet == weighted.collect().toSet)
  }

  test("layoutWeighted: offsets scale with the weights, order does not") {
    // The shuffle order is (h, id) — weight-independent — so doubling
    // every weight must exactly double every offset. This is the
    // property the BPE bridge (q117) relies on: swapping whitespace
    // counts for learned-tokenizer counts re-meters the stream without
    // re-ordering it.
    val df = corpus(0 until 50)
    val base = Packing
      .layoutWeighted(
        df.select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("w")),
        "doc_id",
        "w",
        nShards = 4
      )
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val doubled = Packing
      .layoutWeighted(
        df.select(col("doc_id"), (size(split(col("text"), "\\s+")) * 2).cast("long").as("w")),
        "doc_id",
        "w",
        nShards = 4
      )
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(base.keySet == doubled.keySet)
    base.foreach { case (id, (s, n, e)) =>
      assert(doubled(id) == ((2 * s, 2 * n, 2 * e)), s"doc $id")
    }
  }

  test("selectTokenBudget: per-group Σ tok_take = min(budget, group total), selection is the order prefix") {
    import spark.implicits._
    val df = corpus(0 until 60).withColumn("src", concat(lit("s"), col("doc_id") % 3))
    // group totals vary; budgets chosen so s0 truncates mid-doc, s1
    // fits entirely, s2 cuts exactly on a doc boundary (found below).
    val lay = Packing.layoutBy(df, "doc_id", "text", "src", nShards = 4)
    val totals = lay
      .groupBy(col("src"))
      .agg(max(col("end_tok")).as("tot"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toMap
    val boundary = lay
      .filter(col("src") === "s2")
      .orderBy(col("start_tok"))
      .collect()
      .map(_.getAs[Long]("end_tok"))
      .apply(5) // end of the 6th doc of s2: an exact doc-boundary cut
    val budgets =
      Seq(("s0", totals("s0") / 2), ("s1", totals("s1") + 100L), ("s2", boundary))
        .toDF("src", "budget")
    val sel = Packing
      .selectTokenBudget(df, "doc_id", "text", "src", budgets, nShards = 4)
      .collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySrc = sel.groupBy(_._1)
    // exact token metering
    assert(bySrc("s0").map(_._5).sum == totals("s0") / 2)
    assert(bySrc("s1").map(_._5).sum == totals("s1"))
    assert(bySrc("s2").map(_._5).sum == boundary)
    assert(bySrc("s2").length == 6, "doc-boundary budget selects exactly the first 6 docs")
    // prefix property: the selected docs of each group are exactly
    // those starting before the cut — no gaps in start_tok order.
    bySrc.foreach { case (src, rows) =>
      val starts = rows.map(_._3).sorted
      val layStarts = lay
        .filter(col("src") === src)
        .orderBy(col("start_tok"))
        .collect()
        .map(_.getAs[Long]("start_tok"))
        .take(rows.length)
      assert(starts.toSeq == layStarts.toSeq, s"$src selection must be the stream prefix")
    }
    // only the straddling doc is truncated
    assert(sel.count(r => r._5 < r._4) <= 3)
  }

  private def srcCorpus(ids: Range): DataFrame =
    corpus(ids).withColumn("src", concat(lit("s"), col("doc_id") % 3))

  private def byRows(df: DataFrame): Map[(String, Long), (Long, Long)] =
    df.select(col("src"), col("doc_id"), col("start_tok"), col("n_toks"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  test("packIngestBy: each domain tiles its own stream; new domains start at 0") {
    val root = Files.createTempDirectory("graft-packby").toString
    val st = s"$root/st"
    val b0 = Packing.packIngest(spark, srcCorpus(0 until 40), "doc_id", "text", st, 0L, groupCol = Some("src"))
    val m0 = byRows(b0)
    // per-domain totals after batch 0
    val tot0 = m0.groupBy(_._1._1).map { case (s, rows) => s -> rows.values.map(_._2).sum }
    // every domain starts at 0 in its own stream
    m0.groupBy(_._1._1).foreach { case (s, rows) =>
      assert(rows.values.map(_._1).min == 0L, s"$s must start at 0")
    }
    // batch 1 introduces a brand-new domain alongside the old ones
    val b1docs = srcCorpus(40 until 80)
      .withColumn("src", when(col("doc_id") >= 70, lit("fresh")).otherwise(col("src")))
    val b1 = Packing.packIngest(spark, b1docs, "doc_id", "text", st, 1L, groupCol = Some("src"))
    val m1 = byRows(b1)
    m1.groupBy(_._1._1).foreach { case (s, rows) =>
      val start = rows.values.map(_._1).min
      if (s == "fresh") assert(start == 0L, "a new domain starts its own stream at 0")
      else assert(start == tot0(s), s"$s batch 1 must start at its batch-0 total ${tot0(s)}")
    }
    // per-domain contiguity across the union
    (m0 ++ m1).groupBy(_._1._1).foreach { case (s, rows) =>
      val sorted = rows.values.toSeq.sortBy(_._1)
      sorted.sliding(2).foreach {
        case Seq((s1, n1), (s2, _)) => assert(s2 == s1 + n1, s"$s stream must tile")
        case _                      =>
      }
    }
  }

  test("packIngestBy replay: recorded bases reused bit-identically, even after later batches") {
    val root = Files.createTempDirectory("graft-packby-replay").toString
    val st = s"$root/st"
    val b0 = srcCorpus(0 until 30)
    val first = byRows(Packing.packIngest(spark, b0, "doc_id", "text", st, 0L, groupCol = Some("src")))
    byRows(Packing.packIngest(spark, srcCorpus(30 until 60), "doc_id", "text", st, 1L, groupCol = Some("src")))
    val replayed = byRows(Packing.packIngest(spark, b0, "doc_id", "text", st, 0L, groupCol = Some("src")))
    assert(replayed == first, "replay after a later batch must reproduce the original manifest")
  }

  test("packIngestBy replay with a domain missing from its recording fails loudly") {
    val root = Files.createTempDirectory("graft-packby-chg").toString
    val st = s"$root/st"
    Packing.packIngest(spark, srcCorpus(0 until 30), "doc_id", "text", st, 0L, groupCol = Some("src")).count()
    val changed = srcCorpus(0 until 30).withColumn("src", lit("other"))
    val e = intercept[IllegalArgumentException](
      Packing.packIngest(spark, changed, "doc_id", "text", st, 0L, groupCol = Some("src")).count()
    )
    assert(e.getMessage.contains("changed batch content"))
  }

  test("packIngestBy crash window: a lost base recording replays to the same layout") {
    val root = Files.createTempDirectory("graft-packby-crash").toString
    val st = s"$root/st"
    Packing.packIngest(spark, srcCorpus(0 until 30), "doc_id", "text", st, 0L, groupCol = Some("src")).count()
    val b1 = srcCorpus(30 until 60)
    val first = byRows(Packing.packIngest(spark, b1, "doc_id", "text", st, 1L, groupCol = Some("src")))
    // crash after manifest, before/losing the base recording
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$st/bases_by/applied_id=1"), true)
    val replayed = byRows(Packing.packIngest(spark, b1, "doc_id", "text", st, 1L, groupCol = Some("src")))
    assert(replayed == first, "base derivation must converge across the crash window")
  }

  test("packIngestBy self-compaction: state dirs stay bounded, offsets unaffected") {
    val root = Files.createTempDirectory("graft-packby-compact").toString
    val st = s"$root/st"
    val manifests = (0 until 7).map { k =>
      byRows(
        Packing.packIngest(
          spark,
          srcCorpus(k * 10 until (k + 1) * 10),
          "doc_id",
          "text",
          st,
          k.toLong,
          compactEvery = 2,
          groupCol = Some("src")
        )
      )
    }
    val dirs = new java.io.File(s"$st/bases_by").listFiles().map(_.getName)
    assert(
      dirs.count(_.startsWith("applied_id=")) <= 3,
      s"per-batch dirs must consolidate: ${dirs.mkString(",")}"
    )
    assert(dirs.count(_.startsWith("compact_v")) == 1, "exactly one consolidated version kept")
    // the whole crawl still tiles per domain
    manifests.flatten.groupBy(_._1._1).foreach { case (s, rows) =>
      val sorted = rows.map(_._2).toSeq.sortBy(_._1)
      assert(sorted.head._1 == 0L)
      sorted.sliding(2).foreach {
        case Seq((s1, n1), (s2, _)) => assert(s2 == s1 + n1, s"$s stream must tile under compaction")
        case _                      =>
      }
    }
  }

  test("a stratified empty batch records a zero-row dir, advances no domain, and replays as a no-op") {
    val root = Files.createTempDirectory("graft-packby-empty").toString
    val st = s"$root/st"
    def ingest(ids: Range, id: Long) =
      Packing.packIngest(spark, srcCorpus(ids), "doc_id", "text", st, id, groupCol = Some("src"))
    val tot0 = byRows(ingest(0 until 30, 0L)).groupBy(_._1._1).map { case (s, rows) =>
      s -> rows.values.map(_._2).sum
    }
    assert(ingest(0 until 0, 1L).count() == 0)
    val own = s"$st/bases_by/applied_id=1"
    assert(new java.io.File(own).isDirectory, "the empty batch must record its own dir")
    assert(spark.read.parquet(own).count() == 0, "the empty batch's dir must hold no rows")
    val state = Packing.baseRows(spark, st, grouped = true).toSet
    assert(ingest(0 until 0, 1L).count() == 0)
    assert(Packing.baseRows(spark, st, grouped = true).toSet == state, "replaying the empty batch changes nothing")
    byRows(ingest(30 until 60, 2L)).groupBy(_._1._1).foreach { case (s, rows) =>
      assert(rows.values.map(_._1).min == tot0(s), s"$s must resume at its batch-0 total ${tot0(s)}")
    }
  }

  test("a global ingest is the one-group stratified ingest: same manifests and offset state") {
    val root = Files.createTempDirectory("graft-pack-onegroup").toString
    val (global, grouped) = (s"$root/global", s"$root/grouped")
    // two batches, then a replay of the first
    Seq(0L -> (0 until 40), 1L -> (40 until 90), 0L -> (0 until 40)).foreach { case (id, ids) =>
      val g = Packing.packIngest(spark, corpus(ids), "doc_id", "text", global, id)
      val s = Packing
        .packIngest(spark, corpus(ids).withColumn("g", lit("all")), "doc_id", "text", grouped, id, groupCol = Some("g"))
        .drop("g")
      assert(g.columns.toSeq == s.columns.toSeq)
      assert(g.collect().toSet == s.collect().toSet, s"batch $id: manifests differ")
    }
    val gRows = Packing.baseRows(spark, global)
    val sRows = Packing.baseRows(spark, grouped, grouped = true)
    assert(gRows.forall(_._2.isEmpty) && sRows.forall(_._2.contains("all")))
    def offsets(rows: Seq[(Long, Option[String], Long, Long)]) = rows.map(r => (r._1, r._3, r._4)).sorted
    assert(offsets(gRows) == offsets(sRows) && gRows.length == 2, s"$gRows vs $sRows")
    // and the batch layout equals the stratified one on a constant group
    val docs = corpus(0 until 80)
    val lay = Packing.layout(docs, "doc_id", "text", nShards = 4)
    val layBy = Packing.layoutBy(docs.withColumn("g", lit("all")), "doc_id", "text", "g", nShards = 4).drop("g")
    assert(lay.columns.toSeq == layBy.columns.toSeq)
    assert(lay.collect().toSet == layBy.collect().toSet)
  }

  test("layoutWeighted keeps the duplicate-id interlock") {
    val df = corpus(0 until 10)
    val dup = df.union(df.limit(1))
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("w"))
    val e = intercept[IllegalArgumentException](
      Packing.layoutWeighted(dup, "doc_id", "w", nShards = 2).collect()
    )
    assert(e.getMessage.contains("duplicate doc_id"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x")
      .mkString

  test("epochOrder: each epoch is a permutation; order equals the brute-force md5 rank") {
    val man = Packing.manifest(
      Packing.layout(corpus(0 until 80), "doc_id", "text", nShards = 4),
      "doc_id",
      budget = 16L
    )
    val nPacks = man.agg(max(col("last_pack"))).head.getLong(0) + 1
    assert(nPacks > 2, "fixture must produce several packs")
    val got = Packing
      .epochOrder(man, epochs = 3, seed = "s1")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    (0 until 3).foreach { e =>
      val rows = got.filter(_._1 == e.toLong).sortBy(_._2)
      assert(rows.map(_._2) == (0L until nPacks), s"epoch $e ords must be 0..n-1")
      assert(rows.map(_._3).sorted == (0L until nPacks), s"epoch $e must be a permutation")
      // brute force: global sort by (md5 key, pack_id)
      val expected = (0L until nPacks)
        .sortBy(p => (md5Hex(s"s1:$e:$p"), p))
      assert(rows.map(_._3) == expected, s"epoch $e order must equal the md5 rank")
    }
    // distinct epochs permute differently (md5 keys differ)
    val e0 = got.filter(_._1 == 0L).sortBy(_._2).map(_._3)
    val e1 = got.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(e0 != e1, "epochs must not share a permutation")
    // deterministic: a re-run reproduces the schedule bit for bit
    val again = Packing
      .epochOrder(man, epochs = 3, seed = "s1")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    assert(again.sorted == got.sorted)
  }

  test("epochOrder: the schedule is hexWidth-invariant (widths 1 and 3 equal the default)") {
    val man = Packing.manifest(
      Packing.layout(corpus(0 until 80), "doc_id", "text", nShards = 4),
      "doc_id",
      budget = 16L
    )
    def run(w: Int) = Packing
      .epochOrder(man, epochs = 2, seed = "wid", hexWidth = w)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
      .sorted
    val w2 = run(2)
    assert(run(1) == w2, "width 1 (16 buckets) must produce the identical schedule")
    assert(run(3) == w2, "width 3 (4096 buckets) must produce the identical schedule")
    // the knob interlocks: widths outside [1, 7] fail loudly
    val e = intercept[IllegalArgumentException](Packing.epochOrder(man, 1, "s", hexWidth = 0))
    assert(e.getMessage.contains("hexWidth"))
  }

  test("epochOrder + mask: retired packs never scheduled; survivor ords dense, relative order kept") {
    val man = Packing.manifest(
      Packing.layout(corpus(0 until 80), "doc_id", "text", nShards = 4),
      "doc_id",
      budget = 16L
    )
    val nPacks = man.agg(max(col("last_pack"))).head.getLong(0) + 1
    assert(nPacks >= 4)
    val retired = Set(0L, 2L)
    val mask = retired.toSeq
      .map(p => (p, 1L, 16L, 1.0, true))
      .toDF("pack_id", "n_contam_docs", "n_contam_tokens", "contam_frac", "retired")
    def rows(mk: Option[org.apache.spark.sql.DataFrame]) = Packing
      .epochOrder(man, epochs = 2, seed = "mk", mask = mk)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    val plain = rows(None)
    val masked = rows(Some(mask))
    (0 until 2).foreach { e =>
      val m = masked.filter(_._1 == e.toLong).sortBy(_._2)
      assert(m.map(_._3).toSet.intersect(retired).isEmpty, "a retired pack must never be scheduled")
      assert(m.map(_._2) == (0L until (nPacks - retired.size)), "survivor ords must be dense 0..k-1")
      // survivor relative order = unmasked order with retirees deleted
      val p = plain.filter(_._1 == e.toLong).sortBy(_._2).map(_._3).filterNot(retired)
      assert(m.map(_._3) == p, "masking must not reorder survivors")
    }
  }

  test("epochOrder: empty manifest yields an empty schedule") {
    val man = Packing.manifest(
      Packing.layout(corpus(0 until 0), "doc_id", "text", nShards = 2),
      "doc_id",
      budget = 16L
    )
    assert(Packing.epochOrder(man, epochs = 2, seed = "s").count() == 0L)
  }

  test("boundaries: segments tile every pack; doc_start marks exactly the attention resets") {
    val B = 16L
    val lay = Packing.layout(corpus(0 until 80), "doc_id", "text", nShards = 4)
    val man = Packing.manifest(lay, "doc_id", B)
    val rows = man
      .select(col("doc_id"), col("start_tok"), col("n_toks"), col("first_pack"), col("last_pack"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val expected = (for {
      (id, s, n, fp, lp) <- rows
      p <- fp to lp
      ps = p * B
      pos = math.max(s, ps) - ps
      segLen = math.min(s + n, ps + B) - math.max(s, ps)
      ds = if (s >= ps) 1 else 0
    } yield (p, pos, segLen, id, ds)).toSet
    val got = Packing
      .boundaries(man, "doc_id", B)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(got == expected, "boundary table must equal the per-overlap arithmetic")
    // tiling: per pack, segments cover [0, B) without gap or overlap
    val total = rows.map(_._3).sum
    got.groupBy(_._1).foreach { case (p, segs) =>
      val sorted = segs.toSeq.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"pack $p must start at 0")
      sorted.sliding(2).foreach {
        case Seq((_, s1, n1, _, _), (_, s2, _, _, _)) =>
          assert(s2 == s1 + n1, s"pack $p segments must tile")
        case _ => ()
      }
      val covered = sorted.last._2 + sorted.last._3
      val want = if (p == total / B) total % B else B
      assert(covered == want, s"pack $p must cover $want positions, got $covered")
    }
    // doc_start = 1 exactly once per doc (its first pack)
    val starts = got.filter(_._5 == 1).groupBy(_._4).map { case (id, s) => (id, s.size) }
    assert(starts.values.forall(_ == 1), "each doc begins in exactly one pack")
    assert(starts.size == rows.length, "every doc must begin somewhere")
  }

  test("build_vocab + pack_export CLI verbs hand off trainer-ready id-array shards") {
    val root = Files.createTempDirectory("graft-packexport-cli").toString
    val allDocs = corpus(0 until 40)
    allDocs.write.parquet(s"$root/docs")
    Seq(0 until 20, 20 until 40).zipWithIndex.foreach { case (ids, i) =>
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_ingest",
          "--batch", { corpus(ids).write.parquet(s"$root/b$i"); s"$root/b$i" },
          "--state", s"$root/st",
          "--out", s"$root/manifests",
          "--applied_id", i.toString,
          "--budget", "16"
        ),
        spark
      )
    }
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "build_vocab", "--docs", s"$root/docs", "--out", s"$root/vocab"),
      spark
    )
    val vocab = spark.read.parquet(s"$root/vocab")
    // the frozen dictionary is the corpus' distinct tokens, densely ranked
    val distinctTokens = allDocs
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .distinct()
      .count()
    assert(vocab.count() == distinctTokens)
    assert(
      vocab.agg(min(col("token_id")), max(col("token_id"))).head.toSeq ==
        Seq(0L, distinctTokens - 1)
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_export",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--vocab", s"$root/vocab",
        "--out", s"$root/export",
        "--from", "0", "--to", "2",
        "--budget", "16", "--shards", "2"
      ),
      spark
    )
    val got = spark.read.parquet(s"$root/export")
    assert(got.count() == 2L, "two full packs exported as one row each")
    // every exported pack is gapless: positions 0..15, ids in-vocab
    got.collect().foreach { r =>
      val pos = r.getAs[scala.collection.Seq[Long]]("positions")
      assert(pos.toSeq == (0L until 16L), s"pack ${r.getAs[Long]("pack_id")} must tile 0..15")
      val ids = r.getAs[scala.collection.Seq[Long]]("token_ids")
      assert(ids.forall(id => id >= 0 && id < distinctTokens))
    }
    // the export must equal the library chain it fronts
    val direct = graft.operators.Vocab
      .packArrays(
        graft.operators.Packing
          .materializePacks(spark, s"$root/st", s"$root/manifests", allDocs, "doc_id", "text", 0L, 2L, 16L),
        vocab
      )
      .collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[scala.collection.Seq[Long]]("token_ids").toSeq))
      .toMap
    val viaCli = got
      .collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[scala.collection.Seq[Long]]("token_ids").toSeq))
      .toMap
    assert(viaCli == direct, "CLI export must front the packArrays chain exactly")
    // landed-data manifest enumerates both shards
    val manifest = spark.read.parquet(s"$root/export.__manifest")
    assert(manifest.count() == 2L)
    assert(manifest.agg(sum(col("n_rows"))).head.getLong(0) == 2L)
  }

  test("retirePacks + mask: a retired pack never materializes; the export accounts the holes") {
    val root = Files.createTempDirectory("graft-retire").toString
    val allDocs = corpus(0 until 40)
    allDocs.write.parquet(s"$root/docs")
    Seq(0 until 20, 20 until 40).zipWithIndex.foreach { case (ids, i) =>
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_ingest",
          "--batch", { corpus(ids).write.parquet(s"$root/b$i"); s"$root/b$i" },
          "--state", s"$root/st",
          "--out", s"$root/manifests",
          "--applied_id", i.toString,
          "--budget", "16"
        ),
        spark
      )
    }
    val man = spark.read.parquet(s"$root/manifests")
    // contaminate the docs overlapping pack 1 — retirement must hit
    // exactly the packs those docs' token ranges touch
    val contamIds = man
      .filter(col("first_pack") <= 1L && col("last_pack") >= 1L)
      .select(col("doc_id"))
    val contamSet = contamIds.collect().map(_.getLong(0)).toSet
    assert(contamSet.nonEmpty)
    val audit = Packing.contamAudit(man, contamIds, "doc_id", budget = 16L)
    val mask = Packing.retirePacks(audit, budget = 16L)
    val retiredPacks = mask.filter(col("retired")).select(col("pack_id"))
      .collect().map(_.getLong(0)).toSet
    assert(retiredPacks.contains(1L), s"pack 1 must retire, got $retiredPacks")
    // unmasked load of [0, 4) sees every pack; masked load never
    // materializes a retired pack and leaves clean packs bit-identical
    def load(mk: Option[org.apache.spark.sql.DataFrame]) = Packing
      .materializePacks(spark, s"$root/st", s"$root/manifests", allDocs,
        "doc_id", "text", 0L, 4L, 16L, mask = mk)
    val plain = load(None).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // plan lock: the mask applies as a broadcast LeftAnti — the mask is
    // contamination-sized, never a sort-merge side
    val maskedDf = load(Some(mask))
    val mplan = maskedDf.queryExecution.executedPlan.toString
    assert(
      mplan.contains("BroadcastHashJoin") && mplan.contains("LeftAnti"),
      s"mask must be a broadcast anti-join:\n$mplan"
    )
    assert(!mplan.contains("SortMergeJoin LeftAnti"), "mask must never sort-merge")
    val masked = maskedDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(plain.map(_._1).toSet.intersect(retiredPacks) == retiredPacks.filter(_ < 4L))
    assert(masked.map(_._1).toSet.intersect(retiredPacks).isEmpty, "a retired pack must never materialize")
    assert(
      masked.toSet == plain.filterNot(r => retiredPacks.contains(r._1)).toSet,
      "masking must not disturb clean packs"
    )
    // CLI: retire_packs writes the same mask; a masked export lands
    // exactly window-minus-retired packs (holes accounted)
    contamIds.write.parquet(s"$root/contam")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "retire_packs",
        "--manifests", s"$root/manifests",
        "--contam", s"$root/contam",
        "--out", s"$root/mask"
      ),
      spark
    )
    val cliMask = spark.read.parquet(s"$root/mask")
    assert(
      cliMask.filter(col("retired")).select(col("pack_id")).collect().map(_.getLong(0)).toSet
        == retiredPacks,
      "CLI mask must equal the library decision (budget from the sidecar)"
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "build_vocab", "--docs", s"$root/docs", "--out", s"$root/vocab"),
      spark
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_export",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--vocab", s"$root/vocab",
        "--out", s"$root/export",
        "--from", "0", "--to", "4",
        "--shards", "2",
        "--mask", s"$root/mask"
      ),
      spark
    )
    val exported = spark.read.parquet(s"$root/export")
    val exportedIds = exported.select(col("pack_id")).collect().map(_.getLong(0)).toSet
    assert(exportedIds.intersect(retiredPacks).isEmpty, "a retired pack must never export")
    assert(exportedIds == plain.map(_._1).toSet.diff(retiredPacks),
      "export must land exactly window-minus-retired packs")
  }

  test("stratified retirement: mask keyed (group, pack_id); pack_id-only audit interlocked") {
    val root = Files.createTempDirectory("graft-retire-by").toString
    // two domains, identical doc shapes → identical per-domain pack
    // spaces; contaminate docs of ONE domain only
    val batch = (0 until 40)
      .map(i => (i.toLong, if (i % 2 == 0) "a" else "b", (0 to i % 7).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    batch.write.parquet(s"$root/b0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_ingest_by",
        "--batch", s"$root/b0",
        "--state", s"$root/st",
        "--out", s"$root/manifests",
        "--applied_id", "0",
        "--budget", "16"
      ),
      spark
    )
    val man = spark.read.parquet(s"$root/manifests")
    // contaminated: every source-a doc overlapping source-a's pack 0
    val contam = man
      .filter(col("source") === "a" && col("first_pack") === 0L)
      .select(col("doc_id"))
    contam.write.parquet(s"$root/contam")
    // pack_id-only audit on a stratified manifest is refused loudly
    val e = intercept[IllegalArgumentException](
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "retire_packs",
          "--manifests", s"$root/manifests",
          "--contam", s"$root/contam",
          "--out", s"$root/mask_bad"
        ),
        spark
      )
    )
    assert(e.getMessage.contains("group_col"))
    // group-aware mask retires source-a packs only
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "retire_packs",
        "--manifests", s"$root/manifests",
        "--contam", s"$root/contam",
        "--out", s"$root/mask",
        "--group_col", "source"
      ),
      spark
    )
    val mask = spark.read.parquet(s"$root/mask")
    assert(mask.columns.contains("source"), "stratified mask must carry the group column")
    val retired = mask
      .filter(col("retired"))
      .select(col("source"), col("pack_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(retired.nonEmpty && retired.forall(_._1 == "a"), s"only domain a retires: $retired")
    assert(retired.exists(_._2 == 0L), "domain a's pack 0 must retire")
    // library form agrees
    val direct = Packing
      .retirePacks(
        Packing.contamAudit(man, contam, "doc_id", 16L, Seq("source")),
        16L,
        groupCols = Seq("source")
      )
      .filter(col("retired"))
      .select(col("source"), col("pack_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(direct == retired)
  }

  test("maskIntervals: pack-local masks roll up to the audit; boundary docs split per pack") {
    val root = Files.createTempDirectory("graft-maskint").toString
    corpus(0 until 40).write.parquet(s"$root/b0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_ingest",
        "--batch", s"$root/b0",
        "--state", s"$root/st",
        "--out", s"$root/manifests",
        "--applied_id", "0",
        "--budget", "16"
      ),
      spark
    )
    val man = spark.read.parquet(s"$root/manifests")
    val contamIds = man
      .filter(col("first_pack") <= 1L && col("last_pack") >= 1L)
      .select(col("doc_id"))
    val rows = Packing
      .maskIntervals(man, contamIds, "doc_id", 16L)
      .collect()
      .map(r =>
        (r.getAs[Long]("pack_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("mask_start"),
          r.getAs[Long]("mask_end"), r.getAs[Long]("n_mask_tokens")))
    assert(rows.nonEmpty)
    // every interval is half-open, non-empty, pack-local
    rows.foreach { case (p, d, s, e, n) =>
      assert(0L <= s && s < e && e <= 16L && n == e - s, s"bad interval ($p,$d,$s,$e,$n)")
    }
    // intervals within a pack are disjoint (the layout gives docs
    // disjoint global ranges) — the trainer needs no merge pass
    rows.groupBy(_._1).foreach { case (p, rs) =>
      rs.sortBy(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 <= b._3, s"pack $p intervals overlap: $a / $b")
        case _         => ()
      }
    }
    // a doc spanning pack boundaries contributes one interval per pack:
    // runs to the pack end in every non-final slice, restarts at 0 after
    val spanning = man
      .join(contamIds, Seq("doc_id"))
      .filter(col("first_pack") < col("last_pack"))
      .select(col("doc_id"), col("first_pack"), col("last_pack"))
      .collect()
    assert(spanning.nonEmpty, "fixture should contain a pack-boundary doc")
    spanning.foreach { r =>
      val parts = rows.filter(_._2 == r.getAs[Long]("doc_id")).sortBy(_._1)
      assert(parts.length.toLong == r.getAs[Long]("last_pack") - r.getAs[Long]("first_pack") + 1)
      parts.init.foreach(p => assert(p._4 == 16L, s"non-final slice must run to the pack end: $p"))
      parts.tail.foreach(p => assert(p._3 == 0L, s"non-first slice must start at the pack start: $p"))
    }
    // roll-up lock: grouping the masks per pack reproduces contamAudit exactly
    val audit = Packing
      .contamAudit(man, contamIds, "doc_id", 16L)
      .collect()
      .map(r =>
        (r.getAs[Long]("pack_id"),
          (r.getAs[Long]("n_contam_docs"), r.getAs[Long]("n_contam_tokens"))))
      .toMap
    val rolled = rows.groupBy(_._1).view.mapValues(rs => (rs.length.toLong, rs.map(_._5).sum)).toMap
    assert(rolled == audit, "masks must roll up to the audit exactly")
    // CLI verb: same rows, budget resolved from the sidecar
    contamIds.write.parquet(s"$root/contam")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "mask_intervals",
        "--manifests", s"$root/manifests",
        "--contam", s"$root/contam",
        "--out", s"$root/masks"
      ),
      spark
    )
    val viaCli = spark.read
      .parquet(s"$root/masks")
      .collect()
      .map(r =>
        (r.getAs[Long]("pack_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("mask_start"),
          r.getAs[Long]("mask_end"), r.getAs[Long]("n_mask_tokens")))
      .toSet
    assert(viaCli == rows.toSet, "CLI masks must equal the library rows")
    // stratified interlock: a manifest carrying a domain column is
    // refused without --group_col (per-domain pack ids would conflate)
    man.withColumn("source", lit("web")).write.parquet(s"$root/strat_man")
    val e = intercept[IllegalArgumentException](
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "mask_intervals",
          "--manifests", s"$root/strat_man",
          "--contam", s"$root/contam",
          "--out", s"$root/m2"
        ),
        spark
      )
    )
    assert(e.getMessage.contains("group_col"))
    // trainer hand-off: --loss_masks ships the window's intervals as an
    // _loss_masks sidecar next to the exported shards
    corpus(0 until 40).write.parquet(s"$root/docs")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "build_vocab", "--docs", s"$root/docs", "--out", s"$root/vocab"),
      spark
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_export",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--vocab", s"$root/vocab",
        "--out", s"$root/export",
        "--from", "0", "--to", "4",
        "--shards", "2",
        "--loss_masks", s"$root/masks"
      ),
      spark
    )
    val sidecar = spark.read
      .parquet(s"$root/export/_loss_masks")
      .collect()
      .map(r =>
        (r.getAs[Long]("pack_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("mask_start"),
          r.getAs[Long]("mask_end"), r.getAs[Long]("n_mask_tokens")))
      .toSet
    assert(sidecar == rows.filter(r => r._1 >= 0L && r._1 < 4L).toSet,
      "the sidecar must be exactly the window's mask rows")
    assert(sidecar.nonEmpty, "the fixture window should carry masks")
  }

  test("budget sidecar: a mismatched budget fails loudly everywhere; omitted budget resolves to the recorded one") {
    val root = Files.createTempDirectory("graft-budget").toString
    corpus(0 until 20).write.parquet(s"$root/b0")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_ingest",
        "--batch", s"$root/b0",
        "--state", s"$root/st",
        "--out", s"$root/manifests",
        "--applied_id", "0",
        "--budget", "16"
      ),
      spark
    )
    // library: a second ingest at a different budget corrupts the
    // cumulative offsets — interlocked
    val e1 = intercept[IllegalArgumentException](
      Packing.packIngest(spark, corpus(20 until 30), "doc_id", "text", s"$root/st", 1L, budget = 32L)
    )
    assert(e1.getMessage.contains("budget"))
    // consumer verb: explicit mismatch fails loudly
    corpus(0 until 20).write.parquet(s"$root/docs")
    val e2 = intercept[IllegalArgumentException](
      graft.pipeline.PipelineRunner.run(
        Array(
          "--maintenance", "pack_slices",
          "--state", s"$root/st",
          "--manifests", s"$root/manifests",
          "--docs", s"$root/docs",
          "--out", s"$root/slices_bad",
          "--from", "0", "--to", "1",
          "--budget", "32"
        ),
        spark
      )
    )
    assert(e2.getMessage.contains("budget"))
    // omitted budget resolves to the recorded 16 — identical output
    // to passing it explicitly
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_slices",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--out", s"$root/slices_def",
        "--from", "0", "--to", "1"
      ),
      spark
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_slices",
        "--state", s"$root/st",
        "--manifests", s"$root/manifests",
        "--docs", s"$root/docs",
        "--out", s"$root/slices_exp",
        "--from", "0", "--to", "1",
        "--budget", "16"
      ),
      spark
    )
    val a = spark.read.parquet(s"$root/slices_def").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(s"$root/slices_exp").collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- resumeSlice ----

  private def schedule3(): (DataFrame, Seq[(Long, Long, Long)]) = {
    val lay = Packing.layout(corpus(0 until 60), "doc_id", "text", nShards = 4)
    val man = Packing.manifest(lay, "doc_id", 16L)
    val sched = Packing.epochOrder(man, epochs = 3, seed = "rs")
    val flat = sched
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
      .sortBy(t => (t._1, t._2))
    (sched, flat)
  }

  test("resumeSlice: the slice is exactly the epoch-major tail; head is the resume point") {
    val (sched, flat) = schedule3()
    val ppe = flat.count(_._1 == 0L).toLong
    assert(ppe >= 8, s"fixture too small: ppe=$ppe")
    val batch = 3L
    val step = (ppe + 2L) / batch // lands mid-epoch-0 or early epoch 1
    val got = Packing
      .resumeSlice(sched, globalStep = step, batchSize = batch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toIndexedSeq
      .sortBy(_._4)
    val consumed = step * batch
    val want = flat.zipWithIndex
      .drop(consumed.toInt)
      .map { case ((e, o, p), i) => (e, o, p, i.toLong) }
    assert(got == want, "resume slice must be the not-yet-consumed epoch-major tail")
    assert(got.head._4 == consumed, "head of the slice is the resume point")
  }

  test("resumeSlice: step 0 returns the whole schedule; consuming everything returns empty") {
    val (sched, flat) = schedule3()
    val total = flat.length.toLong
    assert(Packing.resumeSlice(sched, 0L, 7L).count() == total)
    // total is 3·ppe; pick batch dividing it exactly
    assert(Packing.resumeSlice(sched, total, 1L).count() == 0L)
    val ex = intercept[IllegalArgumentException] {
      Packing.resumeSlice(sched, total + 1L, 1L)
    }
    assert(ex.getMessage.contains("exceeds"))
  }

  test("resumeSlice: a schedule whose epochs rank different pack counts fails loudly") {
    val bad = Seq((0L, 0L, 0L), (0L, 1L, 1L), (1L, 0L, 1L)).toDF("epoch", "ord", "pack_id")
    val ex = intercept[IllegalArgumentException] {
      Packing.resumeSlice(bad, 0L, 1L)
    }
    assert(ex.getMessage.contains("different pack counts"))
  }

  test("resumeSlice composes with the retirement mask: resumed walk never visits a retired pack") {
    val lay = Packing.layout(corpus(0 until 60), "doc_id", "text", nShards = 4)
    val man = Packing.manifest(lay, "doc_id", 16L)
    val mask = Seq((1L, true), (3L, true), (2L, false)).toDF("pack_id", "retired")
    val sched = Packing.epochOrder(man, epochs = 2, seed = "rsm", mask = Some(mask))
    val slice = Packing.resumeSlice(sched, globalStep = 1L, batchSize = 2L)
    val packs = slice.select("pack_id").collect().map(_.getLong(0)).toSet
    assert(!packs.contains(1L) && !packs.contains(3L))
  }

  // ---- temperatureWeights ----

  test("temperatureWeights alpha=0.5: micro-ints equal the IEEE-exact mirror; largest group is 1e6/1e6") {
    val df = Seq(
      ("web", 100L), ("web", 300L), // 400
      ("code", 100L), // 100
      ("books", 25L) // 25
    ).toDF("source", "n_toks")
    val got = Packing
      .temperatureWeights(df, "source", col("n_toks"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    def wMicro(t: Long, mx: Long): Long =
      math.floor(1000000.0 * (math.sqrt(t.toDouble) / math.sqrt(mx.toDouble))).toLong
    def rMicro(t: Long, mx: Long): Long =
      math.floor(1000000.0 * (math.sqrt(mx.toDouble) / math.sqrt(t.toDouble))).toLong
    assert(got("web") == ((2L, 400L, 1000000L, 1000000L)))
    assert(got("code") == ((1L, 100L, wMicro(100, 400), rMicro(100, 400))))
    assert(got("books") == ((1L, 25L, wMicro(25, 400), rMicro(25, 400))))
    // sqrt scaling: a 4x smaller source is upsampled exactly 2x
    assert(got("code")._4 == 2000000L)
    assert(got("books")._4 == 4000000L)
  }

  test("temperatureWeights: general-alpha path matches a Math.pow mirror; alpha=1 is the natural mixture") {
    val df = Seq(("a", 800L), ("b", 200L), ("c", 50L)).toDF("g", "t")
    val got = Packing
      .temperatureWeights(df, "g", col("t"), alpha = 1.0)
      .collect()
      .map(r => (r.getString(0), (r.getLong(3), r.getLong(4))))
      .toMap
    def mirror(t: Long): (Long, Long) = (
      math.floor(1000000.0 * math.pow(t / 800.0, 1.0)).toLong,
      math.floor(1000000.0 * math.pow(800.0 / t, 1.0)).toLong
    )
    assert(got("a") == mirror(800) && got("b") == mirror(200) && got("c") == mirror(50))
    // alpha = 1: weight proportional to size (no re-tempering)
    assert(got("b")._1 == 250000L && got("b")._2 == 4000000L)
    val ex = intercept[IllegalArgumentException] {
      Packing.temperatureWeights(df, "g", col("t"), alpha = 0.0)
    }
    assert(ex.getMessage.contains("alpha"))
  }

  // ---- packEfficiency ----

  test("packEfficiency: per-group tail waste matches the manifest's pack count; interior packs are full") {
    val df = corpus(0 until 50).withColumn(
      "source",
      when(col("doc_id") % 3 === 0, "a").when(col("doc_id") % 3 === 1, "b").otherwise("c")
    )
    val budget = 16L
    val lay = Packing.layoutBy(df, "doc_id", "text", "source", nShards = 4)
    val eff = Packing
      .packEfficiency(lay, budget, Seq("source"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val totals = lay
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_toks").as("t"), max("end_tok").as("mx"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(eff.keySet == totals.keySet)
    for ((g, (nDocs, tot, mxEnd)) <- totals) {
      val (gn, gt, gp, gw, gwm) = eff(g)
      assert(gn == nDocs && gt == tot)
      assert(tot == mxEnd, "layoutBy group stream must be gapless from 0")
      val nPacks = (tot + budget - 1) / budget
      assert(gp == nPacks)
      assert(gw == nPacks * budget - tot && gw >= 0 && gw < budget, "all waste fits in the tail pack")
      assert(gwm == (1000000L * gw) / (nPacks * budget))
    }
  }

  // ---- apportionBudget ----

  test("apportionBudget: quotas sum to the budget exactly and stay within 1 of real shares") {
    val w = Seq(("web", 707106L), ("code", 331662L), ("books", 111803L), ("wiki", 57735L))
      .toDF("source", "w_micro")
    val b = 1000003L // prime: floor shares cannot all be exact
    val got = Packing
      .apportionBudget(w, "source", "w_micro", b)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    assert(got.map(_._3).sum == b, "quotas must sum to the budget EXACTLY")
    val totW = got.map(_._2).sum
    for ((g, wi, q) <- got) {
      val real = BigInt(b) * wi
      val lo = (real / totW).toLong
      assert(q == lo || q == lo + 1, s"$g: quota $q not within 1 of share ${real.toDouble / totW}")
    }
  }

  test("apportionBudget: equal weights split evenly, leftover +1s go to the smaller keys") {
    val w = Seq(("d", 100L), ("b", 100L), ("c", 100L), ("a", 100L)).toDF("g", "wt")
    val got = Packing
      .apportionBudget(w, "g", "wt", 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .toMap
    // 10 over 4 equal groups: base 2 each, remainder 2 → ties on rem,
    // bumped in ascending key order: a and b get 3.
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 2L, "d" -> 2L))
  }

  test("apportion_phases CLI verb equals the library call") {
    val root = Files.createTempDirectory("graft-phases-cli").toString
    val w = Seq(
      ("warm", "web", 3L, 100L),
      ("warm", "code", 1L, 100L),
      ("anneal", "web", 1L, 50L),
      ("anneal", "code", 1L, 50L)
    ).toDF("phase", "source", "w", "phase_budget")
    w.write.parquet(s"$root/w")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "apportion_phases",
        "--weights", s"$root/w",
        "--group_col", "source",
        "--weight_col", "w",
        "--out", s"$root/q"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/q")
    val viaLib = Packing.apportionBudgetBy(w, "phase", "source", "w", "phase_budget")
    assert(out.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet)
  }

  test("apportionBudgetBy: per-phase sums exact, each phase equals the single-phase call; interlocks") {
    val w = Seq(
      ("warm", "web", 707106L, 2000003L),
      ("warm", "code", 331662L, 2000003L),
      ("warm", "wiki", 57735L, 2000003L),
      ("anneal", "web", 100L, 999983L),
      ("anneal", "code", 100L, 999983L)
    ).toDF("phase", "source", "w", "pb")
    val got = Packing
      .apportionBudgetBy(w, "phase", "source", "w", "pb")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toIndexedSeq
    assert(got.filter(_._1 == "warm").map(_._4).sum == 2000003L)
    assert(got.filter(_._1 == "anneal").map(_._4).sum == 999983L)
    // Each phase independently equals apportionBudget on its slice.
    for (ph <- Seq("warm", "anneal")) {
      val slice = w.filter(col("phase") === ph)
      val single = Packing
        .apportionBudget(slice.select(col("source"), col("w")), "source", "w", slice.head().getLong(3))
        .collect()
        .map(r => (r.getString(0), r.getLong(2)))
        .toMap
      got.filter(_._1 == ph).foreach { case (_, g, _, q) =>
        assert(single(g) == q, s"phase $ph group $g: $q != single-phase ${single(g)}")
      }
    }
    // Conflicting budgets within one phase fail loudly.
    val conflict = Seq(("p", "a", 1L, 10L), ("p", "b", 1L, 20L)).toDF("phase", "g", "w", "pb")
    assert(intercept[IllegalArgumentException] {
      Packing.apportionBudgetBy(conflict, "phase", "g", "w", "pb")
    }.getMessage.contains("conflicting"))
    // Duplicate group keys within one phase fail loudly (the same key
    // in DIFFERENT phases is the point of the operator and fine).
    val dup = Seq(("p", "a", 1L, 10L), ("p", "a", 2L, 10L)).toDF("phase", "g", "w", "pb")
    assert(intercept[IllegalArgumentException] {
      Packing.apportionBudgetBy(dup, "phase", "g", "w", "pb")
    }.getMessage.contains("duplicate"))
  }

  test("apportionBudget interlocks: duplicate keys, all-zero weights, doc-grained cardinality") {
    val dup = Seq(("a", 1L), ("a", 2L)).toDF("g", "wt")
    assert(intercept[IllegalArgumentException] {
      Packing.apportionBudget(dup, "g", "wt", 10L)
    }.getMessage.contains("duplicate"))
    val zero = Seq(("a", 0L), ("b", 0L)).toDF("g", "wt")
    assert(intercept[IllegalArgumentException] {
      Packing.apportionBudget(zero, "g", "wt", 10L)
    }.getMessage.contains("zero"))
    val wide = (0 until 50).map(i => (s"g$i", 1L)).toDF("g", "wt")
    assert(intercept[IllegalArgumentException] {
      Packing.apportionBudget(wide, "g", "wt", 10L, maxGroups = 10)
    }.getMessage.contains("domain-grained"))
  }

  test("budgetExhaustion: quotas exact, milli-epochs floor, over-cap flags the starved group") {
    // Budget 1000 over weights 3:1 -> quotas 750/250; avail 1000 vs 50
    // -> 0.75 epochs vs 5 epochs: only the starved group trips the cap.
    val w = Seq(("big", 3L, 1000L), ("small", 1L, 50L)).toDF("g", "wt", "avail")
    val out = graft.operators.Packing
      .budgetExhaustion(w, "g", "wt", "avail", totalBudget = 1000L, maxEpochsMilli = 4000L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(out("big") == ((1000L, 750L, 750L, false)))
    assert(out("small") == ((50L, 250L, 5000L, true)))
    // quotas always sum to the budget exactly
    assert(out.values.map(_._2).sum == 1000L)
  }

  test("budgetExhaustion: the boundary is strict (exactly maxEpochsMilli does NOT flag)") {
    // quota 400 over avail 100 = exactly 4000 milli-epochs.
    val w = Seq(("a", 1L, 100L)).toDF("g", "wt", "avail")
    val out = graft.operators.Packing
      .budgetExhaustion(w, "g", "wt", "avail", totalBudget = 400L)
      .head()
    assert(out.getLong(4) == 4000L && !out.getBoolean(5))
  }

  test("budgetExhaustion interlocks: non-positive avail, cardinality, budget overflow") {
    val bad = Seq(("a", 1L, 0L)).toDF("g", "wt", "avail")
    assert(intercept[IllegalArgumentException] {
      graft.operators.Packing.budgetExhaustion(bad, "g", "wt", "avail", 10L)
    }.getMessage.contains("non-positive"))
    val wide = (0 until 50).map(i => (s"g$i", 1L, 10L)).toDF("g", "wt", "avail")
    assert(intercept[IllegalArgumentException] {
      graft.operators.Packing.budgetExhaustion(wide, "g", "wt", "avail", 10L, maxGroups = 10)
    }.getMessage.contains("domain-grained"))
    val ok = Seq(("a", 1L, 10L)).toDF("g", "wt", "avail")
    assert(intercept[IllegalArgumentException] {
      graft.operators.Packing.budgetExhaustion(ok, "g", "wt", "avail", Long.MaxValue / 10)
    }.getMessage.contains("overflow"))
  }

  test("q168 semantic packing: cluster-pure pack spaces that tile; embedding-less docs excluded") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.TextQueries.q168SemanticPacking(spark, sf)
    val rows = out
      .select(col("doc_id"), col("cluster"), col("start_tok"), col("n_toks"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the layout covers exactly the docs that HAVE an embedding
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val vecIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet == (docIds intersect vecIds))
    // per-cluster pack spaces are independent and gapless: offsets
    // start at 0 and the intervals tile the cluster's token total
    rows.groupBy(_._2).foreach { case (cl, g) =>
      val sorted = g.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"cluster $cl space must start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 + a._4 == b._3, s"cluster $cl: gap between ${a._1} and ${b._1}")
        case _ =>
      }
    }
  }

  test("packEfficiency: groupCols=Nil gives the single global row over a layout") {
    val lay = Packing.layout(corpus(0 until 30), "doc_id", "text", nShards = 4)
    val rows = Packing.packEfficiency(lay, 16L, Nil).collect()
    assert(rows.length == 1)
    val tot = lay.agg(sum("n_toks")).head().getLong(0)
    val nPacks = (tot + 15L) / 16L
    assert(rows(0).getLong(0) == 30L && rows(0).getLong(1) == tot && rows(0).getLong(2) == nPacks)
    assert(rows(0).getLong(3) == nPacks * 16L - tot)
  }

  test("efficiency_sweep CLI verb equals the library call over a written manifest") {
    val root = Files.createTempDirectory("graft-sweep-cli").toString
    val lay = Packing.layoutBy(
      corpus(0 until 40).withColumn("source", (col("doc_id") % 2).cast("string")),
      "doc_id",
      "text",
      "source",
      nShards = 4
    )
    lay.write.parquet(s"$root/man")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "efficiency_sweep",
        "--manifests", s"$root/man",
        "--budgets", "16,64",
        "--group_col", "source",
        "--out", s"$root/sweep"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/sweep")
    val viaLib = Packing.efficiencySweep(lay, Seq(16L, 64L), Seq("source"))
    assert(out.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet)
  }

  test("efficiencySweep: each budget row equals packEfficiency at that budget; interlocks fire") {
    val df = corpus(0 until 60).withColumn(
      "source",
      when(col("doc_id") % 3 === 0, "a").when(col("doc_id") % 3 === 1, "b").otherwise("c")
    )
    val lay = Packing.layoutBy(df, "doc_id", "text", "source", nShards = 4)
    val budgets = Seq(8L, 16L, 64L)
    val sweep = Packing
      .efficiencySweep(lay, budgets, Seq("source"))
      .collect()
      .map(r =>
        (r.getString(0), r.getLong(3)) ->
          (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))
      )
      .toMap
    assert(sweep.size == 3 * budgets.size, "one row per (group, budget)")
    for (b <- budgets) {
      val single = Packing
        .packEfficiency(lay, b, Seq("source"))
        .collect()
        .map(r =>
          (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        )
        .toMap
      for ((g, (nd, tt, np, tw, wm)) <- single)
        assert(sweep((g, b)) == ((nd, tt, np, tw, wm)), s"sweep row ($g, $b) diverges")
    }
    // The sweep is monotone where it must be: pack count never grows
    // with the budget; per-group doc/token totals are budget-invariant.
    for (g <- Seq("a", "b", "c")) {
      val byB = budgets.map(b => sweep((g, b)))
      assert(byB.map(_._3).zip(byB.tail.map(_._3)).forall { case (p8, p16) => p16 <= p8 })
      assert(byB.map(t => (t._1, t._2)).distinct.size == 1)
    }
    assert(intercept[IllegalArgumentException] {
      Packing.efficiencySweep(lay, Nil, Seq("source"))
    }.getMessage.contains("at least one"))
    assert(intercept[IllegalArgumentException] {
      Packing.efficiencySweep(lay, Seq(16L, 16L), Seq("source"))
    }.getMessage.contains("duplicate"))
  }

  test("provenance: token accounting is exact and total; attributes reconcile both ways") {
    val budget = 16L
    val docs = corpus(0 until 40)
    val attrs = docs.select(col("doc_id"), (col("doc_id") % 3).cast("string").as("source"))
    val lay = Packing.layout(docs, "doc_id", "text", nShards = 4)
    val man = Packing.manifest(lay, "doc_id", budget)
    val prov = Packing
      .provenance(man, attrs, "doc_id", budget, Seq("source"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val totToks = lay.agg(sum("n_toks")).head().getLong(0)
    val lastPack = (totToks - 1) / budget
    // Per pack: the rows sum to the pack's exact fill — budget for
    // interior packs, the tail remainder for the last.
    val byPack = prov.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._4).sum }
    (0L to lastPack).foreach { p =>
      val want = if (p < lastPack) budget else totToks - lastPack * budget
      assert(byPack(p) == want, s"pack $p fill ${byPack(p)} != $want")
    }
    // Per source: summing a source's tokens across packs gives its
    // layout total; n_docs sums match the boundaries table.
    val bySource = prov.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._4).sum }
    val layBySource = lay
      .join(attrs, Seq("doc_id"))
      .groupBy("source")
      .agg(sum("n_toks"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(bySource == layBySource)
    val nDocRows = prov.map(_._3).sum
    val boundaryRows = Packing.boundaries(man, "doc_id", budget).count()
    assert(nDocRows == boundaryRows, "every (pack, doc) overlap attributed exactly once")
  }

  test("pack_provenance CLI verb writes the governance table from manifests + attrs") {
    val root = Files.createTempDirectory("graft-prov-cli").toString
    val docs = corpus(0 until 25)
    val attrs = docs.select(col("doc_id"), (col("doc_id") % 2).cast("string").as("source"))
    Packing
      .manifest(Packing.layout(docs, "doc_id", "text", nShards = 4), "doc_id", 16L)
      .write
      .parquet(s"$root/manifests")
    attrs.write.parquet(s"$root/attrs")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pack_provenance",
        "--manifests", s"$root/manifests",
        "--attrs", s"$root/attrs",
        "--attr_cols", "source",
        "--budget", "16",
        "--out", s"$root/prov"
      ),
      spark
    )
    val prov = spark.read.parquet(s"$root/prov")
    val viaLib = Packing.provenance(
      spark.read.parquet(s"$root/manifests"),
      attrs,
      "doc_id",
      16L,
      Seq("source")
    )
    assert(
      prov.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet,
      "verb output == library output"
    )
  }

  // ------------------------------------------------------------------
  // projectIntervals: doc-local intervals -> pack-local masks
  // ------------------------------------------------------------------

  test("projectIntervals: hand fixture — a boundary-straddling interval splits exactly") {
    // One doc of 20 tokens at a known offset: layout of a single doc
    // starts at 0. budget 8 -> packs [0,8) [8,16) [16,24).
    val d = Seq((1L, (0 until 20).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val man = Packing.manifest(Packing.layout(d, "doc_id", "text", nShards = 1), "doc_id", 8L)
    // interval [5, 13) crosses the 8-boundary -> [5,8) in pack 0, [0,5) in pack 1
    val iv = Seq((1L, 5L, 13L)).toDF("doc_id", "tok_start", "tok_end")
    val got = Packing.projectIntervals(man, iv, "doc_id", 8L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set((0L, 5L, 8L, 3L), (1L, 0L, 5L, 5L)))
  }

  test("projectIntervals: token conservation, pack-range containment, per-pack disjointness") {
    val d = corpus(1 to 120)
    val budget = 16L
    val man = Packing.manifest(Packing.layout(d, "doc_id", "text", nShards = 4), "doc_id", budget)
    // per-doc intervals: [0,1) and [2, n_toks) when n_toks > 2 (disjoint by construction)
    val lens = d.select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n"))
    val iv = lens.select(col("doc_id"), lit(0L).as("tok_start"), lit(1L).as("tok_end"))
      .unionByName(
        lens.filter(col("n") > 2).select(col("doc_id"), lit(2L).as("tok_start"), col("n").as("tok_end")))
    val out = Packing.projectIntervals(man, iv, "doc_id", budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val wantTokens = iv.select(sum(col("tok_end") - col("tok_start"))).head().getLong(0)
    assert(out.map(_._5).sum == wantTokens, "projected mask tokens must equal interval tokens")
    out.foreach { case (_, _, s, e, n) =>
      assert(s >= 0 && e <= budget && s < e && n == e - s)
    }
    out.groupBy(_._1).foreach { case (pack, rows) =>
      val sorted = rows.map(r => (r._3, r._4)).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(e1 <= s2, s"pack $pack masks overlap")
        case _ =>
      }
    }
  }

  test("projectIntervals: random budgets + random disjoint intervals conserve tokens exactly") {
    val rnd = new scala.util.Random(777)
    val d = corpus(1 to 80)
    val lens = d.select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // random disjoint intervals per doc: random cut points, keep
    // alternating segments
    val ivRows = lens.toSeq.flatMap { case (id, n) =>
      val cuts = (0L +: Seq.fill(rnd.nextInt(3))(rnd.nextLong().abs % (n + 1)) :+ n).distinct.sorted
      cuts.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if i % 2 == 0 && b > a => (id, a, b)
      }
    }
    for (budget <- Seq(4L, 16L, 64L)) {
      val man = Packing.manifest(Packing.layout(d, "doc_id", "text", nShards = 4), "doc_id", budget)
      val iv = ivRows.toDF("doc_id", "tok_start", "tok_end")
      val out = Packing.projectIntervals(man, iv, "doc_id", budget)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      val want = ivRows.map(t => t._3 - t._2).sum
      assert(out.map(_._4).sum == want, s"budget $budget: token conservation broke")
      out.foreach { case (_, s, e, n) =>
        assert(s >= 0 && e <= budget && s < e && n == e - s, s"budget $budget range")
      }
      out.groupBy(_._1).foreach { case (pack, rows) =>
        val sorted = rows.map(r => (r._2, r._3)).sortBy(_._1)
        sorted.sliding(2).foreach {
          case Array((_, e1), (s2, _)) =>
            assert(e1 <= s2, s"budget $budget pack $pack masks overlap")
          case _ =>
        }
      }
    }
  }

  test("projectIntervals: an interval escaping its doc fails loudly; empty intervals drop") {
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val man = Packing.manifest(Packing.layout(d, "doc_id", "text", nShards = 1), "doc_id", 8L)
    val escaped = Seq((1L, 0L, 4L)).toDF("doc_id", "tok_start", "tok_end") // doc has 3 toks
    val e = intercept[Exception] {
      Packing.projectIntervals(man, escaped, "doc_id", 8L).collect()
    }
    assert(e.getMessage.contains("projectIntervals") || e.getCause != null)
    val empty = Seq((1L, 2L, 2L)).toDF("doc_id", "tok_start", "tok_end")
    assert(Packing.projectIntervals(man, empty, "doc_id", 8L).count() == 0)
  }

  test("q154 chain: projected SFT masks conserve the assistant token total") {
    val masked = queries.PreferenceQueries.q154SftPackMasks(spark, "/root/testdata/sf0.001")
    val gotToks = masked.agg(sum("n_mask_tokens")).head().getLong(0)
    val wantToks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(expr("(doc_id div 20) % 2") =!= 0)
      .agg(sum(size(split(col("text"), "\\s+")).cast("long"))).head().getLong(0)
    assert(gotToks == wantToks, s"mask token total $gotToks != assistant total $wantToks")
    assert(masked.filter(col("mask_start") < 0 || col("mask_end") > 512).count() == 0)
  }
}
