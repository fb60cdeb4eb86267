package graft

import graft.operators.Bpe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge learning: the distributed loop must equal a direct
  * single-node reference implementation of the classic algorithm
  * (count pairs over the word histogram, merge the (cnt DESC, lhs,
  * rhs)-argmax pair leftmost-non-overlapping, repeat) — on fixed
  * corpora, on random corpora, and through the apply/segment path.
  */
class BpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-bpe-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  import spark.implicits._

  /** Reference BPE trainer (the published algorithm, executed naively
    * on the driver). Returns the merge table and the final per-word
    * symbol sequences.
    */
  private def referenceBpe(
      words: Seq[String],
      numMerges: Int
  ): (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    val hist = words.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    var seqs: Map[String, Vector[String]] =
      hist.keys.map(w => w -> w.toVector.map(_.toString)).toMap
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (merges.length < numMerges && continue) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, c) <- hist; Seq(a, b) <- seqs(w).sliding(2) if seqs(w).length > 1)
        pc((a, b)) = pc.getOrElse((a, b), 0L) + c
      if (pc.isEmpty) continue = false
      else {
        val ((l, r), c) = pc.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((l, r, c))
        seqs = seqs.map { case (w, s) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < s.length) {
            if (j + 1 < s.length && s(j) == l && s(j + 1) == r) { out += (l + r); j += 2 }
            else { out += s(j); j += 1 }
          }
          w -> out.result()
        }
      }
    }
    (merges.toSeq, seqs)
  }

  private def learned(df: DataFrame, n: Int): Seq[(String, String, Long)] =
    Bpe.learnMerges(df, "text", n).map(m => (m.lhs, m.rhs, m.cnt))

  test("learnMerges equals the reference trainer on a fixed corpus") {
    val texts = Seq(
      "low lower lowest low low",
      "new newer newest new wider wide",
      "low new wide wider lowest"
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = texts.flatMap(_.split("\\s+"))
    val (ref, _) = referenceBpe(words, 10)
    assert(learned(df, 10) == ref)
  }

  test("learnMerges equals the reference on random corpora (incl. checkpoint boundary)") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 3) {
      val vocab = Vector.fill(12)((0 until (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      val texts = Vector.fill(30)((0 until (1 + rnd.nextInt(8))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val words = texts.flatMap(_.split("\\s+"))
      // checkpointEvery=3 exercises the mid-loop lineage truncation.
      val got = Bpe.learnMerges(df, "text", 7, checkpointEvery = 3).map(m => (m.lhs, m.rhs, m.cnt))
      val (ref, _) = referenceBpe(words, 7)
      assert(got == ref, s"trial $trial: $got != $ref")
    }
  }

  test("early stop: a fully merged corpus yields fewer merges than asked") {
    val df = Seq((0L, "ab ab ab")).toDF("doc_id", "text")
    // "ab" has one pair; after merging (a,b) no pairs remain.
    val got = learned(df, 10)
    assert(got == Seq(("a", "b", 3L)))
  }

  test("adjacent self-pairs merge leftmost non-overlapping (the aaaa case)") {
    val df = Seq((0L, "aaaa aaa")).toDF("doc_id", "text")
    // pairs of "aaaa": (a,a)x3; "aaa": (a,a)x2 → merge (a,a) cnt 5;
    // leftmost non-overlap: "aaaa"→[aa,aa], "aaa"→[aa,a].
    val got = learned(df, 2)
    assert(got.head == (("a", "a", 5L)))
    // round 2: "aaaa"=[aa,aa] has (aa,aa)x1; "aaa"=[aa,a] has (aa,a)x1
    // → argmax tie on cnt broken by rhs ASC: (aa,a).
    assert(got(1) == (("aa", "a", 1L)))
  }

  test("segmentCounts matches the reference final segmentation") {
    val texts = Seq("low lower low", "newest lowest new", "wide wider widest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = texts.flatMap(_.split("\\s+"))
    val (ref, seqs) = referenceBpe(words, 6)
    val merges = ref.map { case (l, r, _) => (l, r) }
    val got = Bpe
      .segmentCounts(df, "doc_id", "text", merges)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val want = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split("\\s+").toSeq
      (i.toLong, (ws.size.toLong, ws.map(w => seqs(w).length.toLong).sum))
    }.toMap
    assert(got == want)
  }

  test("modelTokenCount / withModelTokenCounts equal the reference segmentation per column") {
    val texts = Seq("low lower low", "newest lowest new", "wide wider widest")
    val words = texts.flatMap(_.split("\\s+"))
    val (ref, seqs) = referenceBpe(words, 6)
    val merges = ref.map { case (l, r, _) => (l, r) }
    // two text columns, whitespace-joined renders of the same corpus —
    // the DPO-triple shape (prompt is a multi-doc concat)
    val df = Seq(
      (0L, texts(0), s"${texts(1)} ${texts(2)}"),
      (1L, texts(2), ""),
      (2L, "  low   lower ", texts(1)) // ragged whitespace: empty words dropped
    ).toDF("id", "a", "b")
    val got = Bpe
      .withModelTokenCounts(df, Seq("a", "b"), merges)
      .select("id", "a_toks", "b_toks")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    def count(t: String): Long =
      t.split("\\s+").filter(_.nonEmpty).map(w => seqs(w).length.toLong).sum
    val want = Map(
      0L -> ((count(texts(0)), count(s"${texts(1)} ${texts(2)}"))),
      1L -> ((count(texts(2)), 0L)),
      2L -> ((count("low lower"), count(texts(1))))
    )
    assert(got == want)
    // and the count agrees with segmentCounts' n_bpe_tokens on a corpus
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaSeg = Bpe.segmentCounts(docs, "doc_id", "text", merges)
      .select("doc_id", "n_bpe_tokens").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaCnt = Bpe.withModelTokenCounts(docs, Seq("text"), merges)
      .select("doc_id", "text_toks").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaCnt == viaSeg, "per-row count must equal the vocab-join segmentation count")
  }

  test("withModelTokenCountsFrozen serves the pinned model version") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-toks").toString
    val docs = Seq((0L, "low low lower")).toDF("doc_id", "text")
    Bpe.buildModel(spark, docs, "text", s"$root/m", numMerges = 4)
    val merges = Bpe.loadMerges(spark, s"$root/m")
    val direct = Bpe.withModelTokenCounts(docs, Seq("text"), merges)
      .select("text_toks").collect().map(_.getLong(0)).toSeq
    val frozen = Bpe.withModelTokenCountsFrozen(docs, Seq("text"), s"$root/m")
      .select("text_toks").collect().map(_.getLong(0)).toSeq
    assert(frozen == direct && direct.head > 0)
  }

  test("separator interlock: a '|' inside a token fails loudly") {
    val df = Seq((0L, "ok bad|token ok")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](Bpe.learnMerges(df, "text", 2))
    assert(e.getMessage.contains("|"))
  }

  test("frozen model: build/load round-trips the merge table; versions flip with retention") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-model").toString
    val model = s"$root/bpe"
    val c1 = Seq((0L, "low lower lowest low")).toDF("doc_id", "text")
    Bpe.buildModel(spark, c1, "text", model, numMerges = 5)
    val loaded = Bpe.loadMerges(spark, model)
    assert(loaded == Bpe.learnMerges(c1, "text", 5).map(m => (m.lhs, m.rhs)))
    // retrain on a different corpus: pointer advances, v1 retained
    val c2 = Seq((0L, "new newer newest new")).toDF("doc_id", "text")
    Bpe.buildModel(spark, c2, "text", model, numMerges = 5)
    assert(Bpe.loadMerges(spark, model) == Bpe.learnMerges(c2, "text", 5).map(m => (m.lhs, m.rhs)))
    val dirs = new java.io.File(model).listFiles().map(_.getName).toSet
    assert(dirs.contains("v1") && dirs.contains("v2"), s"retain=1 keeps the predecessor: $dirs")
    // third build prunes v1 (older than retain=1 predecessors)
    Bpe.buildModel(spark, c1, "text", model, numMerges = 5)
    val dirs3 = new java.io.File(model).listFiles().map(_.getName).toSet
    assert(!dirs3.contains("v1") && dirs3.contains("v2") && dirs3.contains("v3"), s"$dirs3")
  }

  test("frozen model: a crashed build's orphan version dir is overwritten, not served") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-orphan").toString
    val model = s"$root/bpe"
    val c1 = Seq((0L, "aa ab aa")).toDF("doc_id", "text")
    Bpe.buildModel(spark, c1, "text", model, numMerges = 3)
    // fabricate a crashed build: half-written v2 with no pointer advance
    new java.io.File(s"$model/v2/merges").mkdirs()
    assert(
      Bpe.loadMerges(spark, model) == Bpe.learnMerges(c1, "text", 3).map(m => (m.lhs, m.rhs)),
      "an orphan version must not be served"
    )
    val c2 = Seq((0L, "zz zy zz zz")).toDF("doc_id", "text")
    Bpe.buildModel(spark, c2, "text", model, numMerges = 3)
    assert(Bpe.loadMerges(spark, model) == Bpe.learnMerges(c2, "text", 3).map(m => (m.lhs, m.rhs)))
  }

  test("segmentCountsFrozen equals segmentCounts under the learned table") {
    val texts = Seq("low lower low", "newest lowest new")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-frozen").toString
    val model = s"$root/bpe"
    Bpe.buildModel(spark, df, "text", model, numMerges = 6)
    val direct = Bpe
      .segmentCounts(df, "doc_id", "text", Bpe.learnMerges(df, "text", 6).map(m => (m.lhs, m.rhs)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val frozen = Bpe
      .segmentCountsFrozen(df, "doc_id", "text", model)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(frozen == direct)
  }

  test("build_bpe_model + bpe_segment CLI verbs") {
    val root = java.nio.file.Files.createTempDirectory("graft-bpe-cli").toString
    val df = Seq((1L, "low lower"), (2L, "lowest low")).toDF("doc_id", "text")
    df.write.parquet(s"$root/data/documents.parquet")
    df.write.parquet(s"$root/batch")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "build_bpe_model",
        "--data", s"$root/data",
        "--model", s"$root/model",
        "--merges", "4"
      ),
      spark
    )
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "bpe_segment",
        "--batch", s"$root/batch",
        "--model", s"$root/model",
        "--out", s"$root/seg"
      ),
      spark
    )
    val seg = spark.read.parquet(s"$root/seg")
    assert(seg.count() == 2)
    assert(seg.columns.toSet == Set("doc_id", "n_tokens", "n_bpe_tokens", "bpe_ratio"))
  }

  test("minCount prunes tail words before training") {
    val df = Seq((0L, "zz zz zz zz rare")).toDF("doc_id", "text")
    // minCount=2 drops "rare": only (z,z) remains, cnt 4.
    val got = Bpe.learnMerges(df, "text", 3, minCount = 2L).map(m => (m.lhs, m.rhs, m.cnt))
    assert(got == Seq(("z", "z", 4L)))
  }

  /** Apply a frozen merge table to one word: start from characters,
    * fold merges in learned order, leftmost non-overlapping per pass —
    * the serving-side reference for drift scoring.
    */
  private def applyRef(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.toVector.map(_.toString)) { case (s, (l, r)) =>
      val out = Vector.newBuilder[String]
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == l && s(j + 1) == r) { out += (l + r); j += 2 }
        else { out += s(j); j += 1 }
      }
      out.result()
    }

  test("symbols: the model's symbol set equals the reference segmentation's") {
    val texts = Seq("low lower low", "newest lowest new", "wide wider widest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = texts.flatMap(_.split("\\s+"))
    val (ref, seqs) = referenceBpe(words, 6)
    val merges = ref.map { case (l, r, _) => (l, r) }
    val got = Bpe
      .symbols(df, "text", merges)
      .collect()
      .map(_.getString(0))
      .toSet
    assert(got == seqs.values.flatten.toSet, "symbol id space must be the reference's")
  }

  /** Native-apply equivalence harness: the one-expression
    * [[graft.functions.BpeApplyMerges]] loop vs the regexp_replace
    * fold it replaces, over a corpus' char-level symbol strings.
    */
  private def assertApplyEquiv(words: Seq[String], merges: Seq[(String, String)]): Unit = {
    val df = words
      .map(w => (w, w.toVector.map(_.toString).mkString("|", "||", "|")))
      .toDF("word", "sym")
    val got = df
      .select(col("word"), Bpe.applyMerges(col("sym"), merges).as("out"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toMap
    val want = df
      .select(col("word"), Bpe.applyMergesFold(col("sym"), merges).as("out"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toMap
    assert(got == want, s"native apply diverges from the fold under $merges")
    // and both equal the driver reference fold from characters
    for (w <- words)
      assert(
        got(w) == applyRef(w, merges).mkString("|", "||", "|"),
        s"native apply diverges from applyRef on '$w'"
      )
  }

  test("native apply equals the fold: trained tables at 8 merges, fixed + random corpora") {
    val texts = Seq("low lower lowest low low", "new newer newest new wider wide")
    val words = texts.flatMap(_.split("\\s+"))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 8).map(m => (m.lhs, m.rhs))
    assertApplyEquiv(words.distinct, merges)
    val rnd = new scala.util.Random(101L)
    for (_ <- 0 until 3) {
      val ws = Vector.fill(40)((0 until (2 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
      val rdf = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val ms = Bpe.learnMerges(rdf, "text", 8).map(m => (m.lhs, m.rhs))
      assertApplyEquiv(ws.distinct, ms)
    }
  }

  test("native apply equals the fold at ~1k merges (merge-count-flat path, production shape)") {
    val rnd = new scala.util.Random(424242L)
    val ws = Vector.fill(300)((0 until (8 + rnd.nextInt(24))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 1000).map(m => (m.lhs, m.rhs))
    assert(merges.length >= 900, s"corpus must sustain ~1k merges, got ${merges.length}")
    // The fold CANNOT run at this depth: a 1000-deep regexp_replace
    // Column overflows the driver stack inside Spark's recursive
    // ColumnNode→Expression conversion (StackOverflowError, measured
    // here before this test was split) — the concrete failure mode
    // the native expression removes. So: fold A/B at 256 merges (its
    // survivable depth), and the full 1k table against the driver
    // reference fold, which carries the same per-pass semantics.
    assertApplyEquiv(ws.distinct.take(40), merges.take(256))
    val sample = ws.distinct.take(80)
    val sdf = sample
      .map(w => (w, w.toVector.map(_.toString).mkString("|", "||", "|")))
      .toDF("word", "sym")
    val got = sdf
      .select(col("word"), Bpe.applyMerges(col("sym"), merges).as("out"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toMap
    for (w <- sample)
      assert(
        got(w) == applyRef(w, merges).mkString("|", "||", "|"),
        s"native apply diverges from the reference fold at 1k merges on '$w'"
      )
  }

  test("native apply keeps FOLD semantics on adversarial tables (where min-rank-first apply diverges)") {
    // rank1 (ab, c) precedes rank2 (a, b): the fold's pass 1 sees no
    // "ab" symbol (chars only) and pass 2 creates it — "abc" must end
    // [ab, c], NOT [abc] (a GPT-2-style lowest-rank-present loop would
    // re-visit rank 1 after rank 2 creates "ab" and collapse it).
    assertApplyEquiv(Seq("abc", "ababc", "cabc"), Seq(("ab", "c"), ("a", "b")))
    // duplicate pair at two ranks: second pass re-merges occurrences
    // the interleaved rank-2 merge creates.
    assertApplyEquiv(Seq("abab", "ababab"), Seq(("a", "b"), ("ab", "ab"), ("a", "b")))
    // merge whose output re-creates its own pair to the right
    assertApplyEquiv(Seq("aaaa", "aaa", "aaaaa"), Seq(("a", "a"), ("aa", "aa"), ("aa", "a")))
  }

  test("driver and distributed trainer paths produce identical merge tables") {
    val rnd = new scala.util.Random(777L)
    for (trial <- 0 until 2) {
      val vocab = Vector.fill(10)((0 until (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      val texts = Vector.fill(25)((0 until (1 + rnd.nextInt(8))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val local = Bpe.learnMerges(df, "text", 9).map(m => (m.lhs, m.rhs, m.cnt))
      // driverMaxChars=0 forces the distributed per-round loop
      val dist = Bpe
        .learnMerges(df, "text", 9, checkpointEvery = 4, driverMaxChars = 0L)
        .map(m => (m.lhs, m.rhs, m.cnt))
      assert(local == dist, s"trial $trial: driver path $local != distributed $dist")
    }
  }

  test("frozen merges on a drifted corpus: unseen words still segment; counts match the reference") {
    // train on one distribution, apply to another that shares some
    // words and adds unseen ones (the q123 monitoring posture).
    val train = Seq("low lower lowest low low", "low wide wider lowest wide")
    val trainDf = train.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(trainDf, "text", 6).map(m => (m.lhs, m.rhs))
    val apply = Seq((0L, "src_a", "low lower zebra"), (1L, "src_b", "qqq wide unseen low"))
    val applyDf = apply.toDF("doc_id", "source", "text")
    val got = Bpe
      .segmentCounts(applyDf.select(col("doc_id"), col("text")), "doc_id", "text", merges)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val want = apply.map { case (id, _, t) =>
      val ws = t.split("\\s+").toSeq
      (id, (ws.size.toLong, ws.map(w => applyRef(w, merges).length.toLong).sum))
    }.toMap
    assert(got == want, "frozen-fold counts must equal the reference apply on unseen words")
    // a word the training set never saw segments near character-grained
    // (fertility rises) — the drift signal q123 aggregates.
    val zebra = applyRef("zebra", merges)
    assert(zebra.length >= 4, s"unseen 'zebra' should stay nearly characters, got $zebra")
  }

  /** A/B the native single-pass count (graft_bpe_count — what
    * [[Bpe.modelTokenCount]] plans since round 16) against the
    * reference HOF chain on the same texts under the same table.
    */
  private def assertCountEquiv(texts: Seq[String], merges: Seq[(String, String)]): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = df
      .select(col("id"), Bpe.modelTokenCount(col("t"), merges).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = df
      .select(col("id"), Bpe.modelTokenCountFold(col("t"), merges).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"native count diverges from the HOF fold under $merges")
  }

  test("native count equals the HOF fold: whitespace edges, '|' words, trained + adversarial tables") {
    val texts = Seq(
      "low lower lowest low low",
      "  low \t lower\nnewest ",  // ragged ASCII whitespace: split+filter semantics
      "",                          // empty text counts 0
      "x",                         // single 1-symbol word
      "a|b |c| ||| x||y",          // '|' words: the boundary-string mis-parse path, bit-for-bit
      "aaaa aaa abab ababab",
      // Java-regex line terminators that survive \s+ tokenization
      // (U+0085/U+2028/U+2029 are not in Java \s): repOf's `(.)` skips
      // them, gluing them into the adjacent symbol (or deleting a
      // leading one via the substr) — the native count must route
      // these words through the reference-exact boundary path.
      "a\u2028b low\u0085er \u2029 \u2028\u2028 x\u2028",
      "\u2028lead a\u2028\u2029b mix|\u2028pipe low"
    )
    val words = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val trainDf = Seq((0L, "low lower lowest low low new newer newest wide wider"))
      .toDF("doc_id", "text")
    val trained = Bpe.learnMerges(trainDf, "text", 8).map(m => (m.lhs, m.rhs))
    assertCountEquiv(texts, trained)
    // adversarial tables (the apply-equivalence suite's cases)
    assertCountEquiv(texts, Seq(("ab", "c"), ("a", "b")))
    assertCountEquiv(texts, Seq(("a", "b"), ("ab", "ab"), ("a", "b")))
    assertCountEquiv(texts, Seq(("a", "a"), ("aa", "aa"), ("aa", "a")))
    // random corpora under their own trained tables
    val rnd = new scala.util.Random(3131L)
    for (_ <- 0 until 3) {
      val ws = Vector.fill(60)((0 until (2 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
      val docs = Vector.fill(20)((0 until (1 + rnd.nextInt(8))).map(_ => ws(rnd.nextInt(ws.size))).mkString(" "))
      val rdf = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val ms = Bpe.learnMerges(rdf, "text", 8).map(m => (m.lhs, m.rhs))
      assertCountEquiv(docs, ms)
    }
    // null text → null count on both paths
    val nd = Seq((0L, Option.empty[String]), (1L, Some("low low"))).toDF("id", "t")
    val gn = nd.select(col("id"), Bpe.modelTokenCount(col("t"), trained).as("n"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val wn = nd.select(col("id"), Bpe.modelTokenCountFold(col("t"), trained).as("n"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(gn == wn && gn(0L) == null, "null text must stay null through the native count")
  }

  test("native count equals the HOF fold at ~1k merges (production table size)") {
    val rnd = new scala.util.Random(515151L)
    val ws = Vector.fill(300)((0 until (8 + rnd.nextInt(24))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 1000).map(m => (m.lhs, m.rhs))
    assert(merges.length >= 900, s"corpus must sustain ~1k merges, got ${merges.length}")
    // the HOF fold survives 256 merges (its stack-depth ceiling, see
    // the apply A/B); the full table checks against the driver
    // reference segmentation instead.
    val docs = Vector.fill(30)((0 until (1 + rnd.nextInt(6))).map(_ => ws(rnd.nextInt(ws.size))).mkString(" "))
    assertCountEquiv(docs, merges.take(256))
    val ddf = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = ddf.select(col("id"), Bpe.modelTokenCount(col("t"), merges).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.split("\\s+").filter(_.nonEmpty).map(w => applyRef(w, merges).length.toLong).sum)
    }.toMap
    assert(got == want, "native count diverges from the reference segmentation at 1k merges")
  }

  test("segmentCounts (per-row native) equals the vocab-join reference form") {
    val rnd = new scala.util.Random(909090L)
    val ws = Vector.fill(50)((0 until (2 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
    // duplicate doc ids (pooled by the groupBy), an empty-text doc
    // (absent from output), ragged whitespace
    val rows = (0 until 30).map { i =>
      val t =
        if (i == 7) "" else (0 until (1 + rnd.nextInt(6))).map(_ => ws(rnd.nextInt(ws.size))).mkString("  ")
      ((i % 12).toLong, t)
    }
    val df = rows.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 8).map(m => (m.lhs, m.rhs))
    def collectMap(d: DataFrame) = d
      .select("doc_id", "n_tokens", "n_bpe_tokens", "bpe_ratio")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val got = collectMap(Bpe.segmentCounts(df, "doc_id", "text", merges))
    val want = collectMap(Bpe.segmentCountsVocabJoin(df, "doc_id", "text", merges))
    assert(got == want, "per-row segmentCounts must equal the vocab-join form row-for-row")
  }
}
