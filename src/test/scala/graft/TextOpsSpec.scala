package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the chunking / decontamination / heavy-hitter
  * operators beyond the oracle hash-match: coverage and overlap of the
  * chunk grid, split-disjointness and recomputed containment for
  * decontamination, and the sketch-vs-exact bound for heavy hitters.
  */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-textops-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("q55 chunk grid: contiguous indices, correct sizes, full coverage") {
    val docTok = spark.read
      .parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    val chunks = queries.TextQueries
      .q55Chunk(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    assert(chunks.keySet == docTok.keySet, "every document must be chunked")
    chunks.foreach { case (doc, rows) =>
      val n = docTok(doc)
      val byIdx = rows.sortBy(_._2)
      assert(byIdx.map(_._2).toSeq == (0 until byIdx.length), s"doc $doc: gap in chunk indices")
      assert(byIdx.length == (n - 1) / 48 + 1, s"doc $doc: wrong chunk count for n=$n")
      byIdx.foreach { case (_, i, len) =>
        assert(len == math.min(64, n - i * 48), s"doc $doc chunk $i: bad length $len (n=$n)")
      }
      // stride 48 + size 64 ⇒ chunk i covers tokens [48i+1, 48i+len]; the
      // grid covers [1, n] with 16-token overlaps between full chunks.
      val covered = byIdx.flatMap { case (_, i, len) => (48 * i + 1) to (48 * i + len) }.toSet
      assert(covered == (1 to n).toSet, s"doc $doc: chunk grid does not cover all tokens")
    }
  }

  test("q55 chunk grid is lossless: stride-prefix reassembly rebuilds every document") {
    // Overlapping chunks (size 64, stride 48) must still be a lossless
    // representation: concatenating each chunk's first `stride` tokens
    // (the last chunk truncates naturally) re-derives the original
    // token sequence for EVERY document — the packing/training consumer
    // can always reconstruct the corpus from chunks alone.
    val stride = 48
    val base = spark.read
      .parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      .withColumn("n", size(col("t")))
    val rebuilt = base
      .select(
        col("doc_id"),
        col("t"),
        explode(expr(s"sequence(0, (n - 1) div $stride)")).as("i")
      )
      .select(
        col("doc_id"),
        col("t"),
        col("i"),
        slice(col("t"), col("i") * stride + 1, lit(stride)).as("piece")
      )
      .groupBy(col("doc_id"), col("t"))
      .agg(
        flatten(array_sort(collect_list(struct(col("i"), col("piece"))))
          .getField("piece")).as("rt")
      )
    val bad = rebuilt.filter(col("rt") =!= col("t")).count()
    assert(bad == 0, s"$bad documents failed chunk reassembly")
  }

  test("q54 decontamination: split disjoint, containment recomputable from raw text") {
    def isEval(id: Long): Boolean = {
      val md = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"ev_$id".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % 10 == 0
    }
    val rows = queries.TextQueries.q54Decontaminate(spark, sf).collect()
    assert(rows.nonEmpty, "fixture should contain cross-split near-dups")
    val texts = spark.read
      .parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    def shingles(t: String): Set[(String, String, String)] =
      t.split("\\s+").toSeq.sliding(3).filter(_.length == 3).map { case Seq(a, b, c) => (a, b, c) }.toSet
    rows.foreach { r =>
      val (train, eval_) = (r.getLong(0), r.getLong(1))
      assert(!isEval(train), s"train doc $train hashed into the eval split")
      assert(isEval(eval_), s"eval doc $eval_ not in the eval split")
      val (sa, sb) = (shingles(texts(train)), shingles(texts(eval_)))
      val contain = (sa intersect sb).size.toDouble / sa.size
      assert(math.abs(contain - r.getDouble(3)) < 1e-9, s"pair ($train,$eval_): containment mismatch")
      assert(contain >= 0.5)
    }
  }

  test("native graft_shingles is bit-identical to the HOF shingle chain") {
    import queries.TextQueries
    val d = spark.read.parquet(s"$sf/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("doc_id"), col("sh_ints"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .toMap
    val native = rows(TextQueries.withShingles(d))
    val hof = rows(TextQueries.withShinglesHof(d))
    assert(native.keySet == hof.keySet)
    // Exact element order too: both dedup to first-occurrence order.
    native.foreach { case (id, sh) =>
      assert(sh == hof(id), s"doc $id: native and HOF shingles differ")
    }
    assert(native.nonEmpty && native.values.exists(_.nonEmpty))
    // Edge cases: under 3 tokens → row filtered in both forms.
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "a b c")).toDF("doc_id", "text")
    assert(rows(TextQueries.withShingles(tiny)).keySet == Set(2L))
    assert(rows(TextQueries.withShinglesHof(tiny)).keySet == Set(2L))
  }

  test("materializeFeatures: parquet-backed feature tables give identical results") {
    import queries.TextQueries
    def snap(): Map[String, Set[String]] = Map(
      "q21" -> TextQueries.q21NgramJaccard(spark, sf).collect().map(_.toString).toSet,
      "q41" -> TextQueries.q41Tfidf(spark, sf).collect().map(_.toString).toSet,
      "q52" -> TextQueries.q52VocabMap(spark, sf).collect().map(_.toString).toSet,
      "q54" -> TextQueries.q54Decontaminate(spark, sf).collect().map(_.toString).toSet
    )
    TextQueries.clearFeatureMemo()
    val viaCheckpoint = snap()
    val state = java.nio.file.Files.createTempDirectory("graft-feat-").toString
    TextQueries.clearFeatureMemo()
    val (shPath, tokPath) = TextQueries.materializeFeatures(spark, sf, state)
    // The memo now points at the parquet reads — prove it by checking the
    // physical plan scans the state dir, not the documents table.
    assert(new java.io.File(shPath).exists() && new java.io.File(tokPath).exists())
    // q41 pins its tf aggregate eagerly, so its own executed plan reads
    // the pin (Scan ExistingRDD); the pinned subtree's input is the
    // memoized token-instance table, which must scan the durable copy.
    // (q41 still scans documents.parquet once — the corpus-size count.)
    val plan = TextQueries.tokenInstances(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains(state), s"q41's token instances should scan the materialized table under $state:\n$plan")
    val viaParquet = snap()
    assert(viaParquet == viaCheckpoint, "durable path must be result-identical")
    viaCheckpoint.foreach { case (q, s) => assert(s.nonEmpty, s"$q fixture empty") }
    // The pair table is durable too: after the bench's evict→re-point
    // cycle, q21 must SCAN the state dir (no localCheckpoint rebuild)
    // and still match.
    TextQueries.clearFeatureMemo()
    TextQueries.pointFeaturesAt(spark, sf, state)
    val q21Plan = TextQueries.q21NgramJaccard(spark, sf).queryExecution.executedPlan.toString
    assert(q21Plan.contains(s"$state/pairs"), s"q21 should scan the durable pair table:\n$q21Plan")
    assert(
      TextQueries.q21NgramJaccard(spark, sf).collect().map(_.toString).toSet == viaCheckpoint("q21"),
      "durable pair table must be result-identical"
    )
    TextQueries.clearFeatureMemo()
  }

  test("q56 heavy hitters: ranks 1..10, counts descending, sketch within bound") {
    val rows = queries.TextQueries
      .q56HeavyHitters(spark, sf)
      .orderBy(col("rank"))
      .collect()
    assert(rows.map(_.getInt(2)).toSeq == (1 to rows.length), "ranks must be 1..k")
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, "counts must be non-increasing")
    assert(rows.forall(_.getBoolean(3)), "every sketch estimate must be within the 1% bound")
  }

  /** Crafted corpus for the span-extent operators: doc texts with known
    * shared runs, written as a `documents.parquet` dir so the queries
    * read it like any sf dir. n_chars is set EXPLICITLY (the operators
    * read the column, not the text length).
    */
  private def craftedCorpus(
      docs: Seq[(Long, String, String, Long)]
  ): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-extents").toString
    docs
      .map { case (id, text, source, nChars) => (id, text, "en", source, nChars) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("q101: maximal extents of a crafted shared run, short runs filtered") {
    // Docs 1 and 2 share the exact 7-token run X1..X7 at different
    // offsets; docs 3 and 4 share only the 3-token run Y1..Y3 (one
    // duplicated 3-gram => a 3-token extent, below the 5-token floor).
    val dir = craftedCorpus(
      Seq(
        (1L, "a1 a2 a3 X1 X2 X3 X4 X5 X6 X7 a4 a5 a6", "s1", 300L),
        (2L, "b1 b2 X1 X2 X3 X4 X5 X6 X7 b3 b4 b5 b6 b7", "s1", 300L),
        (3L, "c1 c2 c3 Y1 Y2 Y3 c4 c5 c6 c7 c8 c9 c10 c11", "s2", 300L),
        (4L, "d1 d2 d3 d4 Y1 Y2 Y3 d5 d6 d7 d8 d9 d10 d11", "s2", 300L)
      )
    )
    val ext = queries.TextQueries
      .q101DupExtents(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    // The 7-token run: doc 1 has duplicated 3-gram positions 3..7 (an
    // island of 5) => token extent [3, 9]; doc 2 positions 2..6 => [2, 8].
    assert(
      ext.toSeq == Seq((1L, 3, 9, 7L), (2L, 2, 8, 7L)),
      s"expected exactly the two 7-token extents, got: ${ext.toSeq}"
    )
    // Every reported extent satisfies the arithmetic contract.
    ext.foreach { case (_, sp, ep, n) =>
      assert(n == ep - sp + 1 && n >= 5, s"bad extent ($sp,$ep,$n)")
    }
  }

  test("q102: source gate follows the integer rules on a crafted split corpus") {
    // Source "spam": 12 of 14 tokens sit inside the shared run (burden
    // 6/7 > 0.65 => drop). Source "good": unique text, zero burden, but
    // one of its two docs is short — short*2 <= n_docs holds => keep.
    val run = (1 to 12).map(i => s"X$i").mkString(" ")
    val dir = craftedCorpus(
      Seq(
        (1L, s"a1 $run a2", "spam", 300L),
        (2L, s"b1 $run b2", "spam", 300L),
        (3L, "g1 g2 g3 g4 g5 g6 g7 g8 g9 g10", "good", 300L),
        (4L, "h1 h2 h3 h4 h5 h6 h7 h8 h9 h10", "good", 100L)
      )
    )
    val rows = queries.TextQueries
      .q102SourceReputation(spark, dir)
      .collect()
      .map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getBoolean(7))
      )
      .toMap
    val (nd, ndd, dt, nt, ns, burden, keep) = rows("spam")
    assert((nd, ndd, ns) == (2L, 2L, 0L), s"spam counts: ${rows("spam")}")
    assert(dt == 24L && nt == 28L, s"spam 12-token extent per doc: ${rows("spam")}")
    assert(burden == 24.0 / 28.0 && !keep, s"spam must fail the burden gate: ${rows("spam")}")
    val (gd, gdd, gdt, gnt, gns, gburden, gkeep) = rows("good")
    assert((gd, gdd, gdt, gnt, gns) == (2L, 0L, 0L, 20L, 1L), s"good counts: ${rows("good")}")
    assert(gburden == 0.0 && gkeep, s"good must keep: ${rows("good")}")
  }

  test("q104: span cleaning cuts exactly the covered tokens, counting overlaps once") {
    // Doc 1 is two shared runs back to back: D1..D5 (shared with doc 2)
    // and E1..E5 (shared with doc 3), with the seam 3-gram D5-E1-E2 also
    // shared (doc 4). Its islands are shingle positions [0,2] and [4,7]
    // => token extents [0,4] and [4,9], which OVERLAP at token 4 — the
    // removed count must be 10 (every token), never the 11 the extent
    // lengths sum to. Doc 4's only extent is 3 tokens (< 5) => untouched.
    val dir = craftedCorpus(
      Seq(
        (1L, "D1 D2 D3 D4 D5 E1 E2 E3 E4 E5", "s", 300L),
        (2L, "b1 D1 D2 D3 D4 D5 b2 b3 b4 b5", "s", 300L),
        (3L, "c1 E1 E2 E3 E4 E5 c2 c3 c4 c5", "s", 300L),
        (4L, "x1 D5 E1 E2 x2", "s", 300L)
      )
    )
    val got = queries.TextQueries
      .q104SpanClean(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got(1L) == ((10L, "")), s"doc 1 must be fully cut, counted once: ${got(1L)}")
    assert(got(2L) == ((5L, "b1 b2 b3 b4 b5")), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((5L, "c1 c2 c3 c4 c5")), s"doc 3: ${got(3L)}")
    assert(got(4L) == ((0L, "x1 D5 E1 E2 x2")), s"doc 4 below the 5-token floor: ${got(4L)}")
  }

  test("q103: manifest is a deterministic permutation with exact shard budgets") {
    val m = queries.TextQueries
      .q103ShuffleManifest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val docs = spark.read
      .parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(m.map(_._1).toSet == docs.keySet, "every doc appears exactly once")
    // Recompute the hash rule independently (md5-prefix, mod 8).
    def h(id: Long): Long = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s"gs_$id".getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
        .take(7)
      java.lang.Long.parseLong(hex, 16)
    }
    m.foreach { case (id, shard, _, _) =>
      assert(shard == (h(id) % 8).toInt, s"doc $id shard mismatch")
    }
    m.groupBy(_._2).foreach { case (shard, rows) =>
      val inOrder = rows.sortBy(_._3)
      assert(inOrder.map(_._3).toSeq == (1 to rows.length), s"shard $shard ranks not contiguous")
      // Within-shard order is (hash, doc_id) ascending and cum_chars is
      // the exact integer prefix sum of n_chars in that order.
      val expectOrder = rows.map(_._1).sortBy(id => (h(id), id))
      assert(inOrder.map(_._1).toSeq == expectOrder.toSeq, s"shard $shard order not hash-stable")
      val prefix = expectOrder.scanLeft(0L)((acc, id) => acc + docs(id)).tail
      assert(inOrder.map(_._4).toSeq == prefix.toSeq, s"shard $shard cum_chars wrong")
    }
    // Reproducible: a second run returns byte-identical rows.
    val again = queries.TextQueries
      .q103ShuffleManifest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(m.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq, "manifest must be deterministic")
  }

  test("dup positions: an ultra-hot boilerplate 3-gram bypasses the window, exactly") {
    // 2000 docs share ONE boilerplate 3-gram (df = 2000 >> cap = 64);
    // every other shingle is doc-unique. With the df-cap split the hot
    // span's instances never enter a window partition (the cold side's
    // max per-hash df is the doc-unique 1), yet the result must be
    // EXACTLY the duplicated position set: position 2 in every doc.
    import spark.implicits._
    val n = 2000
    val d = (1 to n)
      .map(i => (i.toLong, s"u${i}a u${i}b boiler plate row u${i}c"))
      .toDF("doc_id", "text")
    val got = queries.TextQueries
      .dupPositionsOf(d, 64)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toSet
    assert(got == (1 to n).map(i => (i.toLong, 2)).toSet, s"got ${got.size} rows")
  }

  test("q124: curriculum numbering is contiguous, highest quality bin first") {
    val rows = queries.TextQueries
      .q124CurriculumPacking(spark, sf)
      .collect()
      .map(r =>
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      )
    assert(rows.nonEmpty)
    val bins = rows.map(_._1).distinct.sorted.reverse
    assert(bins.length > 1, "fixture must populate several quality bins")
    // within a bin: curriculum ids are the bin-local pack ids shifted
    // by one constant base; across bins (descending): bases tile — bin
    // b's packs all precede bin b-1's, with no gap.
    var expectedBase = 0L
    bins.foreach { b =>
      val br = rows.filter(_._1 == b)
      val base = br.map(r => r._6 - r._4).distinct
      assert(base.length == 1, s"bin $b must shift by one constant base")
      assert(base.head == expectedBase, s"bin $b base must tile the curriculum")
      assert(br.forall(r => r._7 - r._5 == base.head), "cur_last must use the same base")
      val binTotal = br.map(_._3).sum
      expectedBase += (binTotal + 2047) / 2048
    }
    // the curriculum orders whole bins: every bin-2 pack id < every
    // bin-1 pack id, etc.
    bins.sliding(2).foreach {
      case Array(hi, lo) =>
        val hiMax = rows.filter(_._1 == hi).map(_._7).max
        val loMin = rows.filter(_._1 == lo).map(_._6).min
        assert(hiMax < loMin, s"bin $hi packs must precede bin $lo packs")
      case _ => ()
    }
  }

  test("slidingChunks: hand fixture — exact windows, tail covered once, redundant tail dropped") {
    import spark.implicits._
    // 10 tokens, window 4, stride 3: starts 0, 3, 6 emit; start 9 is
    // fully inside chunk 2 (which already reached token 10) and drops.
    val doc = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val got = graft.operators.Chunking
      .slidingChunks(doc, "doc_id", "text", window = 4L, stride = 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._2)
    assert(got.toSeq == Seq(
      (0L, 0L, 4L, "a b c d"),
      (1L, 3L, 4L, "d e f g"),
      (2L, 6L, 4L, "g h i j")
    ))
  }

  test("slidingChunks: every token covered, overlap == window - stride, empty docs emit nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(40412)
    val docs = (0L until 50L).map { i =>
      (i, (0 until rnd.nextInt(40)).map(j => s"t$j").mkString(" "))
    } :+ (99L, "   ")
    val w = 8L; val s = 5L
    val got = graft.operators.Chunking
      .slidingChunks(docs.toDF("doc_id", "text"), "doc_id", "text", w, s)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!got.contains(99L), "whitespace-only doc must emit nothing")
    docs.foreach { case (id, text) =>
      val n = text.split("\\s+").count(_.nonEmpty).toLong
      if (n == 0) assert(!got.contains(id))
      else {
        val chunks = got(id).sortBy(_._2)
        // coverage: chunk 0 starts at 0, the last chunk reaches n,
        // and consecutive chunks leave no gap (stride <= window)
        assert(chunks.head._2 == 0L)
        assert(chunks.last._2 + chunks.last._3 == n, s"doc $id tail uncovered")
        chunks.sliding(2).foreach {
          case Array(a, b) =>
            assert(b._2 == a._2 + s, s"doc $id: stride broken")
            assert(b._2 <= a._2 + a._3, s"doc $id: gap between chunks")
          case _ =>
        }
        // no chunk is fully contained in its predecessor
        chunks.sliding(2).foreach {
          case Array(a, b) => assert(b._2 + b._3 > a._2 + a._3, s"doc $id: redundant chunk")
          case _ =>
        }
      }
    }
  }

  test("chunk CLI verb lands the library's chunks") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-chunk-cli").toString
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("doc_id", "text")
    df.write.parquet(s"$root/docs")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "chunk", "--docs", s"$root/docs",
      "--out", s"$root/chunks", "--window", "4", "--stride", "3"), spark)
    val got = spark.read.parquet(s"$root/chunks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val lib = graft.operators.Chunking.slidingChunks(df, "doc_id", "text", 4L, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got == lib)
  }

  test("bpeChunks: windows are MODEL tokens — matches chunking the pre-tokenized stream") {
    import spark.implicits._
    // merges: (a,b)->ab then (ab,c)->abc. "ab abc d" word-tokenizes to
    // 3 words whose model tokens are [ab] [abc] [d] — but "abcd abcd"
    // becomes [abc d abc d]: 4 model tokens from 2 words, so a
    // whitespace window of 2 and a model window of 2 chunk DIFFERENTLY.
    val merges = Seq(("a", "b"), ("ab", "c"))
    val doc = Seq((1L, "abcd abcd abcd")).toDF("doc_id", "text")
    val got = graft.operators.Chunking
      .bpeChunks(doc, "doc_id", "text", merges, window = 4L, stride = 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._2)
    // model stream: abc d abc d abc d (6 tokens); window 4 stride 3
    assert(got.toSeq == Seq(
      (0L, 0L, 4L, "abc d abc d"),
      (1L, 3L, 3L, "d abc d")
    ))
    // equivalently: chunking the already-BPE-tokenized text in
    // whitespace space gives the same grid (the composition law)
    val pre = Seq((1L, "abc d abc d abc d")).toDF("doc_id", "text")
    val ws = graft.operators.Chunking
      .slidingChunks(pre, "doc_id", "text", 4L, 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._2)
    assert(ws.toSeq == got.toSeq)
  }

  test("chunk CLI --model: frozen-BPE space, and a mismatched-space rerun is refused loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-chunk-bpe-cli").toString
    val df = Seq((1L, "abab abab cd"), (2L, "ab cd ab")).toDF("doc_id", "text")
    df.write.parquet(s"$root/docs")
    df.write.parquet(s"$root/data/documents.parquet")
    // freeze a model on the same corpus
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "build_bpe_model", "--data", s"$root/data",
      "--model", s"$root/model", "--merges", "4"), spark)
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "chunk", "--docs", s"$root/docs",
      "--out", s"$root/chunks", "--window", "3", "--stride", "2",
      "--model", s"$root/model"), spark)
    val got = spark.read.parquet(s"$root/chunks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val lib = graft.operators.Chunking
      .bpeChunksFrozen(df, "doc_id", "text", s"$root/model", 3L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got == lib)
    assert(graft.operators.Chunking.storedSpace(spark, s"$root/chunks").contains("bpe:v1"))
    // re-chunking the same dir WITHOUT the model (whitespace space)
    // must refuse loudly before touching anything
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.PipelineRunner.run(Array(
        "--maintenance", "chunk", "--docs", s"$root/docs",
        "--out", s"$root/chunks", "--window", "3", "--stride", "2"), spark)
    }
    assert(e.getMessage.contains("_space"), e.getMessage)
    // ...and the landed chunks are untouched
    assert(spark.read.parquet(s"$root/chunks").count() == got.size.toLong)
  }

  test("slidingChunks guards: nonpositive window/stride and stride > window refused") {
    import spark.implicits._
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException](
      graft.operators.Chunking.slidingChunks(d, "doc_id", "text", 0L, 1L)
    ).getMessage.contains("window"))
    assert(intercept[IllegalArgumentException](
      graft.operators.Chunking.slidingChunks(d, "doc_id", "text", 4L, 0L)
    ).getMessage.contains("stride"))
    assert(intercept[IllegalArgumentException](
      graft.operators.Chunking.slidingChunks(d, "doc_id", "text", 4L, 5L)
    ).getMessage.contains("DROP"))
  }

  test("q108 frozen-model fixture memo: repeat calls land identical steady-state rows") {
    // The model hoist (r16) must be invisible to results: a second call
    // in the same session serves the memoized frozen model, and the
    // accepted-docs output is row-identical to the first call's. The
    // feature-memo eviction Bench runs between reps must NOT drop the
    // model memo (the hoist's whole point is surviving reps).
    def rows() = queries.TextQueries
      .q108CurateSteadyState(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val first = rows()
    queries.TextQueries.clearFeatureMemo()
    val second = rows()
    assert(first.nonEmpty, "steady state must accept some odd-parity docs")
    assert(second == first, "memoized frozen model drifted the steady-state output")
  }
}
