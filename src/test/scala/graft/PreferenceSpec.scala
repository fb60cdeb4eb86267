package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Preference

/** The post-training preference-data family: pair construction's
  * argmax/argmin tie totality and strict-margin contract (brute-forced
  * on random corpora), best-of-n's rank discipline and its agreement
  * with the pair chosen, length-debias's exact integer-micro
  * arithmetic, turn flattening's dense alternating structure, rater
  * reconciliation on a hand fixture, and the pair purge's
  * either-member gate.
  */
class PreferenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-preference-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  import spark.implicits._

  private def resp(rows: (Long, Long, Long)*): DataFrame =
    rows.toSeq.toDF("prompt_id", "doc_id", "reward")

  // ------------------------------------------------------------------
  // preferencePairs
  // ------------------------------------------------------------------

  test("preferencePairs: argmax chosen / argmin rejected, ties to the smaller id") {
    // p1: top score 9 tied between ids 2 and 3 -> chosen 2; bottom 5 -> rejected 1.
    // p2: bottom score 1 tied between ids 4 and 5 -> rejected 4; chosen 6.
    val pairs = Preference
      .preferencePairs(
        resp((1L, 1L, 5L), (1L, 2L, 9L), (1L, 3L, 9L),
             (2L, 4L, 1L), (2L, 5L, 1L), (2L, 6L, 3L)),
        "prompt_id", "doc_id", "reward")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
      .toSet
    assert(pairs == Set((1L, 2L, 1L, 4L), (2L, 6L, 4L, 2L)))
  }

  test("preferencePairs: constant-score and single-response prompts yield no pair") {
    val out = Preference.preferencePairs(
      resp((1L, 1L, 7L), (1L, 2L, 7L), (1L, 3L, 7L), (2L, 9L, 3L)),
      "prompt_id", "doc_id", "reward")
    assert(out.count() == 0)
  }

  test("preferencePairs: brute-force equivalence on a random corpus") {
    val rnd = new scala.util.Random(4711)
    val rows = (0L until 400L).map { id =>
      (id % 23, id, rnd.nextInt(40).toLong)
    }
    val got = Preference
      .preferencePairs(rows.toDF("prompt_id", "doc_id", "reward"),
        "prompt_id", "doc_id", "reward")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val want = rows.groupBy(_._1).flatMap { case (p, g) =>
      val chosen = g.minBy(t => (-t._3, t._2))
      val rejected = g.minBy(t => (t._3, t._2))
      val margin = chosen._3 - rejected._3
      if (margin > 0)
        Some(p -> (chosen._2, rejected._2, chosen._3, rejected._3, margin))
      else None
    }
    assert(got == want)
  }

  test("preferencePairs: every margin is strictly positive and members share the prompt") {
    val out = Preference
      .preferencePairs(
        queries.PreferenceQueries.responses(spark, "/root/testdata/sf0.001"),
        "prompt_id", "doc_id", "reward")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(5) > 0, s"non-positive margin: $r")
      assert(r.getLong(1) % 50 == r.getLong(0) && r.getLong(2) % 50 == r.getLong(0),
        s"member outside prompt: $r")
      assert(r.getLong(5) == r.getLong(3) - r.getLong(4))
    }
  }

  // ------------------------------------------------------------------
  // bestOfN
  // ------------------------------------------------------------------

  test("bestOfN: ranks are dense from 1, capped at n, ordered by (score desc, id asc)") {
    val rnd = new scala.util.Random(99)
    val rows = (0L until 300L).map(id => (id % 17, id, rnd.nextInt(25).toLong))
    val got = Preference
      .bestOfN(rows.toDF("prompt_id", "doc_id", "reward"),
        "prompt_id", "doc_id", "reward", n = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    got.groupBy(_._1).foreach { case (p, g) =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to g.length).toSeq, s"ranks not dense for $p")
      assert(g.length <= 4)
      val want = rows.filter(_._1 == p).sortBy(t => (-t._3, t._2)).take(4).map(t => (t._2, t._3))
      assert(byRank.map(t => (t._2, t._3)).toSeq == want.toSeq, s"order wrong for $p")
    }
  }

  test("bestOfN at n=1 agrees with preferencePairs' chosen on every paired prompt") {
    val r = queries.PreferenceQueries.responses(spark, "/root/testdata/sf0.001")
    val top1 = Preference.bestOfN(r, "prompt_id", "doc_id", "reward", n = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val pairs = Preference.preferencePairs(r, "prompt_id", "doc_id", "reward")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (p, chosen) => assert(top1(p) == chosen) }
  }

  test("bestOfN rejects n < 1") {
    intercept[IllegalArgumentException] {
      Preference.bestOfN(resp((1L, 1L, 1L)), "prompt_id", "doc_id", "reward", n = 0)
    }
  }

  // ------------------------------------------------------------------
  // lengthDebias
  // ------------------------------------------------------------------

  test("lengthDebias: exact integer-micro centering per bucket") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 500L).map(id => (id, rnd.nextInt(1000).toLong, rnd.nextInt(400).toLong))
    val df = rows.toDF("doc_id", "reward", "n_toks")
    val out = Preference.lengthDebias(df, "doc_id", "reward", "n_toks", bucketWidth = 50L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == rows.length)
    val byId = rows.map(t => t._1 -> t).toMap
    out.groupBy(_._2).foreach { case (bucket, g) =>
      g.foreach { case (id, b, score, _) =>
        assert(b == byId(id)._3 / 50L, "bucket must be len div width")
        assert(score == byId(id)._2)
      }
      // mean_micro = (1e6 * sum) div cnt, so sum(adj) = 1e6*sum - cnt*mean in [0, cnt)
      val sumScores = g.map(_._3).sum
      val sumAdj = g.map(_._4).sum
      val cnt = g.length.toLong
      val meanMicro = (1000000L * sumScores) / cnt
      assert(sumAdj == 1000000L * sumScores - cnt * meanMicro)
      assert(sumAdj >= 0 && sumAdj < cnt, s"bucket $bucket centering off: $sumAdj")
    }
  }

  test("lengthDebias: a constant-score bucket centers to exactly zero") {
    val df = Seq((1L, 10L, 5L), (2L, 10L, 7L), (3L, 10L, 9L))
      .toDF("doc_id", "reward", "n_toks")
    val out = Preference.lengthDebias(df, "doc_id", "reward", "n_toks", 50L).collect()
    out.foreach(r => assert(r.getLong(3) == 0L))
  }

  // ------------------------------------------------------------------
  // flattenTurns
  // ------------------------------------------------------------------

  test("flattenTurns: dense alternating turns per conversation, count preserved") {
    val out = Preference
      .flattenTurns(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
        "user_id", "ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    val nEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(out.length.toLong == nEvents)
    out.groupBy(_._1).foreach { case (conv, g) =>
      val idx = g.map(_._2).sorted
      assert(idx.toSeq == (1 to g.length).toSeq, s"turns not dense for $conv")
      g.foreach { case (_, t, role, _) =>
        assert(role == (if (t % 2 == 1) "user" else "assistant"))
      }
    }
  }

  test("flattenTurns: tie column makes same-timestamp ordering total") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq((7L, ts, 30L, "c"), (7L, ts, 10L, "a"), (7L, ts, 20L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Preference.flattenTurns(df, "user_id", "ts", "event_id", "event_type")
      .orderBy("turn_idx").collect().map(_.getString(3)).toSeq
    assert(out == Seq("a", "b", "c"))
  }

  // ------------------------------------------------------------------
  // raterAgreement
  // ------------------------------------------------------------------

  test("raterAgreement: hand fixture with the dispute threshold inclusive") {
    val ratings = Seq(
      (1L, 10L), (1L, 20L), (1L, 50L), // range 40 -> disputed at >= 40
      (2L, 30L), (2L, 31L), (2L, 32L), // range 2 -> calm
      (3L, 5L)                          // single rater, range 0
    ).toDF("doc_id", "score")
    val out = Preference.raterAgreement(ratings, "doc_id", "score", disputeRange = 40L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((3L, (1000000L * 80L) / 3L, 40L, true)))
    assert(out(2L) == ((3L, 31000000L, 2L, false)))
    assert(out(3L) == ((1L, 5000000L, 0L, false)))
  }

  // ------------------------------------------------------------------
  // roleMaskIntervals
  // ------------------------------------------------------------------

  test("roleMaskIntervals: hand fixture — user turns advance offsets but emit nothing") {
    val turns = Seq(
      (1L, 1L, "user", "a b c"),        // 3 toks, masked out, offsets advance
      (1L, 2L, "assistant", "d e"),     // [3, 5)
      (1L, 3L, "user", "f g h i"),      // 4 toks, masked out
      (1L, 4L, "assistant", "j")        // [9, 10)
    ).toDF("conv_id", "turn_key", "role", "content")
    val out = Preference
      .roleMaskIntervals(turns, "conv_id", "turn_key", "role", "content", "assistant")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set((2L, 3L, 5L), (4L, 9L, 10L)))
  }

  test("roleMaskIntervals: the two roles' interval sets tile every conversation exactly") {
    val turnsDf = queries.PreferenceQueries
      .q153SftMask(spark, "/root/testdata/sf0.001") // assistant side
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(
        (col("doc_id") % 20).as("conv_id"),
        col("doc_id").as("turn_key"),
        when(expr("(doc_id div 20) % 2") === 0, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("text").as("content"))
    val userSide = Preference
      .roleMaskIntervals(base, "conv_id", "turn_key", "role", "content", "user")
    val all = turnsDf.unionByName(userSide)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val totals = base
      .groupBy("conv_id")
      .agg(sum(size(split(col("content"), "\\s+")).cast("long")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all.nonEmpty)
    all.foreach { case (conv, ivs) =>
      val sorted = ivs.map(t => (t._2, t._3)).sortBy(_._1)
      assert(sorted.head._1 == 0L, s"conv $conv must start at 0")
      sorted.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(e1 == s2, s"conv $conv gap/overlap at $e1 vs $s2")
        case _ =>
      }
      assert(sorted.last._2 == totals(conv), s"conv $conv must end at its token total")
    }
  }

  // ------------------------------------------------------------------
  // purgePairs
  // ------------------------------------------------------------------

  test("purgePairs: drops a pair when EITHER member is contaminated, keeps the rest") {
    val pairs = Seq(
      (1L, 10L, 11L), (2L, 20L, 21L), (3L, 30L, 31L), (4L, 40L, 41L)
    ).toDF("prompt_id", "chosen_id", "rejected_id")
    val bad = Seq(10L, 31L).toDF("doc_id") // hits chosen of p1, rejected of p3
    val out = Preference
      .purgePairs(pairs, Seq("chosen_id", "rejected_id"), bad, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L))
  }

  test("roleMaskIntervalsWeighted with whitespace counts == roleMaskIntervals") {
    val turns = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      col("text").as("content"))
    val viaContent = Preference
      .roleMaskIntervals(turns, "conv_id", "turn_key", "role", "content", "assistant")
    val viaWeights = Preference.roleMaskIntervalsWeighted(
      turns.withColumn("n", size(split(col("content"), "\\s+")).cast("long")),
      "conv_id", "turn_key", "role", "n", "assistant")
    assert(viaContent.collect().map(_.toSeq).toSet == viaWeights.collect().map(_.toSeq).toSet)
  }

  test("q158: BPE-space intervals tile each conversation's BPE token total") {
    val sf001 = "/root/testdata/sf0.001"
    val masks = queries.PreferenceQueries.q158SftBpeMask(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val merges = graft.operators.Bpe.learnMerges(d, "text", numMerges = 8).map(m => (m.lhs, m.rhs))
    val totals = graft.operators.Bpe.segmentCounts(d, "doc_id", "text", merges)
      .groupBy((col("doc_id") % 20).as("conv_id"))
      .agg(sum(col("n_bpe_tokens")).as("t"), sum(col("n_tokens")).as("ws"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(masks.nonEmpty)
    // assistant turns are the odd (doc_id div 20) parities — their BPE
    // interval lengths must sum to the assistant share of each conv's
    // BPE total, and every interval must sit inside [0, conv total).
    masks.groupBy(_._1).foreach { case (conv, ivs) =>
      val (bpeTotal, wsTotal) = totals(conv)
      assert(bpeTotal >= wsTotal, "BPE never splits below one token per word here")
      ivs.foreach { case (_, s, e) => assert(s >= 0 && e <= bpeTotal && s < e) }
      val sorted = ivs.map(t => (t._2, t._3)).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(e1 <= s2, s"conv $conv overlap")
        case _ =>
      }
    }
  }

  // ------------------------------------------------------------------
  // winMatrix
  // ------------------------------------------------------------------

  test("winMatrix: hand fixture — wins/ties partition the shared prompts, missing policies excluded") {
    val rows = Seq(
      // prompt 1: A best 9, B best 7 -> A wins
      (1L, "A", 9L), (1L, "A", 2L), (1L, "B", 7L),
      // prompt 2: tie at 5
      (2L, "A", 5L), (2L, "B", 5L),
      // prompt 3: only A responded -> excluded from the (A, B) cell
      (3L, "A", 8L),
      // prompt 4: B wins
      (4L, "A", 1L), (4L, "B", 6L)
    ).toDF("prompt_id", "policy", "score")
    val out = Preference.winMatrix(rows, "prompt_id", "policy", "score").collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == ((1L, 1L, 1L, 3L)))
  }

  test("winMatrix: wins_a + wins_b + ties == n_prompts on random data, each pair once") {
    val rnd = new scala.util.Random(555)
    val rows = (0 until 900).map { i =>
      (rnd.nextInt(40).toLong, s"p${rnd.nextInt(4)}", rnd.nextInt(30).toLong)
    }
    val out = Preference
      .winMatrix(rows.toDF("prompt_id", "policy", "score"), "prompt_id", "policy", "score")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(out.map(_._1).distinct.length == out.length, "each pair exactly once")
    out.foreach { case ((a, b), (wa, wb, t, n)) =>
      assert(a < b)
      assert(wa + wb + t == n, s"($a, $b) partition broke")
    }
  }

  // ------------------------------------------------------------------
  // dedupResponses
  // ------------------------------------------------------------------

  test("dedupResponses: exactly one keep per within-prompt content group, argmax survivor") {
    val rows = Seq(
      (1L, 10L, 5L, "same text"), (1L, 11L, 9L, "same text"),   // keep 11 (higher)
      (1L, 12L, 9L, "other"),
      (2L, 20L, 7L, "same text"),                                 // other prompt: own group
      (2L, 21L, 7L, "twin"), (2L, 22L, 7L, "twin")                // tie -> keep 21 (smaller id)
    ).toDF("prompt_id", "doc_id", "reward", "content")
    val out = Preference
      .dedupResponses(rows, "prompt_id", "doc_id", "reward", "content")
      .collect()
      .map(r => r.getLong(1) -> r.getBoolean(4))
      .toMap
    assert(out == Map(10L -> false, 11L -> true, 12L -> true,
      20L -> true, 21L -> true, 22L -> false))
  }

  test("dedupResponses then preferencePairs never pairs a response against its own copy") {
    val rows = Seq(
      (1L, 10L, 3L, "dup"), (1L, 11L, 9L, "dup"), (1L, 12L, 5L, "uniq")
    ).toDF("prompt_id", "doc_id", "reward", "content")
    val kept = Preference
      .dedupResponses(rows, "prompt_id", "doc_id", "reward", "content")
      .filter(col("keep"))
    val pairs = Preference.preferencePairs(kept, "prompt_id", "doc_id", "reward").collect()
    // without dedup the pair would be (11 chosen, 10 rejected) — two
    // copies of the same completion; with it, 11 vs 12.
    assert(pairs.length == 1 && pairs(0).getLong(1) == 11L && pairs(0).getLong(2) == 12L)
  }

  // ------------------------------------------------------------------
  // unrollPairs / groupAdvantage
  // ------------------------------------------------------------------

  test("unrollPairs: 2x pairs rows, labels partition chosen/rejected, scores ride along") {
    val r = queries.PreferenceQueries.responses(spark, "/root/testdata/sf0.001")
    val pairs = Preference.preferencePairs(r, "prompt_id", "doc_id", "reward")
    val out = Preference.unrollPairs(pairs, "prompt_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3)))
    val p = pairs.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(out.length == 2 * p.length)
    val pos = out.filter(_._4 == 1).map(t => (t._1, t._2, t._3)).toSet
    val neg = out.filter(_._4 == -1).map(t => (t._1, t._2, t._3)).toSet
    assert(pos == p.map(t => (t._1, t._2, t._4)).toSet)
    assert(neg == p.map(t => (t._1, t._3, t._5)).toSet)
  }

  test("groupAdvantage: exact integer-micro centering per prompt, row count preserved") {
    val rnd = new scala.util.Random(31337)
    val rows = (0L until 400L).map(id => (id % 19, id, rnd.nextInt(500).toLong))
    val out = Preference.groupAdvantage(
      rows.toDF("prompt_id", "doc_id", "reward"), "prompt_id", "doc_id", "reward")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == rows.length)
    out.groupBy(_._1).foreach { case (p, g) =>
      val cnt = g.length.toLong
      val sumScores = g.map(_._3).sum
      val meanMicro = (1000000L * sumScores) / cnt
      g.foreach { case (_, id, score, adv) =>
        assert(adv == 1000000L * score - meanMicro, s"prompt $p doc $id")
      }
      val sumAdv = g.map(_._4).sum
      assert(sumAdv >= 0 && sumAdv < cnt, s"prompt $p baseline off: $sumAdv")
    }
  }

  // ------------------------------------------------------------------
  // pairIngest: incremental per-prompt extremes state
  // ------------------------------------------------------------------

  test("pairIngest: any batch split and order folds to the one-shot pair table; replay no-op") {
    val rnd = new scala.util.Random(2026)
    val rows = (0L until 600L).map(id => (id % 37, id, rnd.nextInt(50).toLong))
    val full = rows.toDF("prompt_id", "doc_id", "reward")
    val want = Preference.preferencePairs(full, "prompt_id", "doc_id", "reward")
      .collect().map(_.toSeq).toSet

    def ingestAll(order: Seq[Int]): Set[Seq[Any]] = {
      val root = java.nio.file.Files.createTempDirectory("graft-pair-ingest").toString
      val state = s"$root/state"
      order.zipWithIndex.foreach { case (b, i) =>
        val batch = rows.filter(_._2 % 3 == b).toDF("prompt_id", "doc_id", "reward")
        Preference.pairIngest(spark, batch, "prompt_id", "doc_id", "reward", state, Some(i.toLong))
      }
      // replay the LAST applied batch — must be a no-op
      val last = rows.filter(_._2 % 3 == order.last).toDF("prompt_id", "doc_id", "reward")
      Preference.pairIngest(spark, last, "prompt_id", "doc_id", "reward", state,
        Some(order.length.toLong - 1))
      val got = Preference.pairsFromState(spark, state).collect().map(_.toSeq).toSet
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      got
    }
    assert(ingestAll(Seq(0, 1, 2)) == want, "parity split must fold to the one-shot table")
    assert(ingestAll(Seq(2, 0, 1)) == want, "batch order must not matter")
  }

  test("pairIngest: a single-response prompt carries state but emits no pair until beaten") {
    val root = java.nio.file.Files.createTempDirectory("graft-pair-single").toString
    val state = s"$root/state"
    Preference.pairIngest(spark,
      Seq((5L, 100L, 7L)).toDF("prompt_id", "doc_id", "reward"),
      "prompt_id", "doc_id", "reward", state, Some(1L))
    assert(Preference.pairsFromState(spark, state).count() == 0)
    Preference.pairIngest(spark,
      Seq((5L, 101L, 9L)).toDF("prompt_id", "doc_id", "reward"),
      "prompt_id", "doc_id", "reward", state, Some(2L))
    val p = Preference.pairsFromState(spark, state).collect()
    assert(p.length == 1 && p(0).getLong(1) == 101L && p(0).getLong(2) == 100L
      && p(0).getLong(5) == 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  // ------------------------------------------------------------------
  // CLI verbs
  // ------------------------------------------------------------------

  test("pref_pairs CLI verb composes triage + debias + pairs + decontam, == library") {
    val root = java.nio.file.Files.createTempDirectory("graft-pref-cli").toString
    val resp = queries.PreferenceQueries.responses(spark, "/root/testdata/sf0.001")
    resp.write.parquet(s"$root/responses")
    // 3 pseudo-raters; same construction as q151
    val ratings = resp.select(col("doc_id"))
      .withColumn("rater", explode(array(lit(0), lit(1), lit(2))))
      .withColumn("score",
        conv(substring(md5(concat(lit("rate_"), col("rater").cast("string"),
          lit("_"), col("doc_id").cast("string"))), 1, 7), 16, 10).cast("long") % 100)
    ratings.write.parquet(s"$root/ratings")
    val bad = resp.filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    bad.write.parquet(s"$root/bad")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "pref_pairs",
        "--responses", s"$root/responses",
        "--ratings", s"$root/ratings",
        "--dispute_range", "40",
        "--len_col", "n_toks",
        "--bucket_width", "50",
        "--contaminated", s"$root/bad",
        "--score_col", "reward",
        "--out", s"$root/pairs"
      ),
      spark
    )
    val got = spark.read.parquet(s"$root/pairs")
    // library replay of the same composition
    val disputed = Preference
      .raterAgreement(ratings, "doc_id", "score", 40L)
      .filter(col("disputed")).select(col("doc_id"))
    val kept = resp.join(disputed, Seq("doc_id"), "left_anti")
    val deb = Preference.lengthDebias(kept, "doc_id", "reward", "n_toks", 50L)
      .select(col("doc_id"), col("adj_micro"))
    val want = Preference.purgePairs(
      Preference.preferencePairs(kept.join(deb, Seq("doc_id")), "prompt_id", "doc_id", "adj_micro"),
      Seq("chosen_id", "rejected_id"), bad, "doc_id")
    assert(got.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
    assert(got.count() > 0)
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/pairs/_pref.json")), "UTF-8")
    assert(audit.contains("\"pairs_kept\"") && audit.contains("\"adj_micro\""))
  }

  test("pref_pairs CLI verb --content_col dedups within-prompt copies first") {
    val root = java.nio.file.Files.createTempDirectory("graft-pref-dedup-cli").toString
    Seq(
      (1L, 10L, 3L, "dup"), (1L, 11L, 9L, "dup"), (1L, 12L, 5L, "uniq")
    ).toDF("prompt_id", "doc_id", "score", "content")
      .write.parquet(s"$root/responses")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "pref_pairs",
        "--responses", s"$root/responses", "--content_col", "content",
        "--out", s"$root/pairs"),
      spark)
    val got = spark.read.parquet(s"$root/pairs")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((11L, 12L)), s"got ${got.toSeq}")
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/pairs/_pref.json")), "UTF-8")
    assert(audit.contains("\"dup_dropped\": 1"), audit)
  }

  test("sft_masks CLI verb: conversation-local without manifests, pack-local with") {
    val root = java.nio.file.Files.createTempDirectory("graft-sft-cli").toString
    val turns = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      col("text").as("content"))
    turns.write.parquet(s"$root/turns")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "sft_masks",
        "--turns", s"$root/turns", "--out", s"$root/iv"),
      spark)
    val iv = spark.read.parquet(s"$root/iv")
    val wantIv = Preference.roleMaskIntervals(turns, "conv_id", "turn_key", "role", "content", "assistant")
    assert(iv.collect().map(_.toSeq).toSet == wantIv.collect().map(_.toSeq).toSet)
    // pack-local: conversation-atomic layout + _budget sidecar honored
    val convTotals = turns.groupBy(col("conv_id"))
      .agg(sum(size(split(col("content"), "\\s+")).cast("long")).as("c_toks"))
    graft.operators.Packing
      .manifest(graft.operators.Packing.layoutWeighted(convTotals, "conv_id", "c_toks", 4), "conv_id", 512L)
      .write.parquet(s"$root/manifests")
    graft.operators.Packing.recordBudget(spark, s"$root/manifests", 512L)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "sft_masks",
        "--turns", s"$root/turns", "--manifests", s"$root/manifests",
        "--out", s"$root/masks"),
      spark)
    val masks = spark.read.parquet(s"$root/masks")
    val wantMasks = graft.operators.Packing.projectIntervals(
      spark.read.parquet(s"$root/manifests"), wantIv, "conv_id", 512L, carryCols = Seq("turn_key"))
    assert(masks.collect().map(_.toSeq).toSet == wantMasks.collect().map(_.toSeq).toSet)
    assert(masks.agg(max(col("mask_end"))).head().getLong(0) <= 512L)
  }

  test("pref_stream CLI verb drains response files into the pair state") {
    val root = java.nio.file.Files.createTempDirectory("graft-pref-stream-cli").toString
    new java.io.File(s"$root/raw").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"prompt_id":1,"doc_id":10,"score":5}
        |{"prompt_id":1,"doc_id":11,"score":9}""".stripMargin)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "pref_stream",
        "--raw", s"$root/raw", "--state", s"$root/state",
        "--checkpoint", s"$root/ckpt"),
      spark)
    val got = Preference.pairsFromState(spark, s"$root/state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 11L, 10L)))
  }

  test("win_stream CLI verb drains response files into the arena state; later run can beat earlier") {
    val root = java.nio.file.Files.createTempDirectory("graft-win-stream-cli").toString
    new java.io.File(s"$root/raw").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f1.json"),
      """{"prompt_id":1,"policy":"p0","score":5}
        |{"prompt_id":1,"policy":"p1","score":3}""".stripMargin)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "win_stream",
        "--raw", s"$root/raw", "--state", s"$root/state",
        "--checkpoint", s"$root/ckpt"),
      spark)
    def board() = Preference.winMatrixFromState(spark, s"$root/state")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(board() == Map(("p0", "p1") -> ((1L, 0L, 0L))), "p0 leads after file 1")
    // a later sampling run lands: p1's new best beats p0 on prompt 1,
    // and prompt 2 arrives for both policies as a tie
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/raw/f2.json"),
      """{"prompt_id":1,"policy":"p1","score":8}
        |{"prompt_id":2,"policy":"p0","score":4}
        |{"prompt_id":2,"policy":"p1","score":4}""".stripMargin)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "win_stream",
        "--raw", s"$root/raw", "--state", s"$root/state",
        "--checkpoint", s"$root/ckpt"),
      spark)
    assert(board() == Map(("p0", "p1") -> ((0L, 1L, 1L))), "p1 flips prompt 1; prompt 2 ties")
    // a drained re-run (no new files) must change nothing
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "win_stream",
        "--raw", s"$root/raw", "--state", s"$root/state",
        "--checkpoint", s"$root/ckpt"),
      spark)
    assert(board() == Map(("p0", "p1") -> ((0L, 1L, 1L))), "drained restart adds nothing")
  }

  test("pref_stream and win_stream over an empty --raw dir drain nothing and report 0") {
    for ((verb, reported) <- Seq(
        "pref_stream" -> "now holds 0 pair(s)",
        "win_stream" -> "now boards 0 policy pair(s)")) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-$verb-empty").toString
      new java.io.File(s"$root/raw").mkdirs()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(graft.pipeline.PipelineRunner.run(
        Array("--maintenance", verb,
          "--raw", s"$root/raw", "--state", s"$root/state",
          "--checkpoint", s"$root/ckpt"),
        spark))
      assert(buf.toString("UTF-8").contains(reported), s"$verb printed: $buf")
      assert(!new java.io.File(s"$root/state").exists(), s"$verb created a state from no file")
    }
  }

  test("sft_release: the shipped mask selects EXACTLY the assistant tokens, every conversation") {
    val root = java.nio.file.Files.createTempDirectory("graft-sft-release").toString
    val turns = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant")).as("role"),
      col("text").as("content"))
    turns.write.parquet(s"$root/turns")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "sft_release",
        "--turns", s"$root/turns", "--out", s"$root/rel",
        "--budget", "512", "--shards", "4", "--export_shards", "4"),
      spark)
    // decode the landing: (pack, pos, token) from the id arrays + vocab
    val arrays = spark.read.parquet(s"$root/rel/shards")
    val decoded = arrays
      .select(col("pack_id"), explode(arrays_zip(col("positions"), col("token_ids"))).as("z"))
      .select(col("pack_id"), col("z.positions").as("pos"), col("z.token_ids").as("tid"))
    val vocab = spark.read.parquet(s"$root/rel/vocab")
    val toks = decoded
      .join(vocab, decoded("tid") === vocab("token_id"))
      .select(col("pack_id"), col("pos"), col("token"))
    // masked (loss-ON) positions -> tokens, per conversation in global order
    val masks = spark.read.parquet(s"$root/rel/shards/_role_masks")
    val got = masks.alias("m")
      .join(toks.alias("t"),
        col("m.pack_id") === col("t.pack_id") &&
          col("t.pos") >= col("m.mask_start") && col("t.pos") < col("m.mask_end"))
      .select(col("m.conv_id"), (col("m.pack_id") * 512 + col("t.pos")).as("gpos"), col("token"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (c, g) => c -> g.sortBy(_._2).map(_._3).toSeq }
    val want = turns.filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_key"), col("content"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (c, g) => c -> g.sortBy(_._2).flatMap(_._3.split("\\s+")).toSeq }
    assert(got.keySet == want.keySet)
    want.foreach { case (c, w) => assert(got(c) == w, s"conv $c mask-decoded tokens diverge") }
    // audit: masked_tokens in _sft_release.json == the assistant total
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/rel/_sft_release.json")), "UTF-8")
    val wantToks = want.values.map(_.length.toLong).sum
    assert(audit.contains(s""""masked_tokens": $wantToks"""), audit)
    // Re-running the capstone into the SAME root must refuse up front
    // (pinned --applied_id 0 would no-op the pack-state fold and
    // re-export stale manifests) — same interlock as `release`.
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.PipelineRunner.run(
        Array("--maintenance", "sft_release",
          "--turns", s"$root/turns", "--out", s"$root/rel"),
        spark)
    }
    assert(e.getMessage.contains("pack_state") && e.getMessage.contains("stale"), e.getMessage)
  }

  test("tree sft_release: every turn's tokens are loss-on EXACTLY once across the whole release") {
    val root = java.nio.file.Files.createTempDirectory("graft-sft-tree").toString
    // three conversations, PER-CONVERSATION-RESTARTING turn ids, each
    // the same branched shape: 0→{1,5}, 1→{2,3}, 3→4, 2→6 — leaves
    // {4,5,6}, so paths (0,1,3,4), (0,5), (0,1,2,6): turns 0 and 1
    // sit on multiple paths (the over-weighting hazard), and roles
    // alternate user/assistant by turn parity.
    val parentOf: Map[Long, Option[Long]] = Map(
      0L -> None, 1L -> Some(0L), 2L -> Some(1L), 3L -> Some(1L),
      4L -> Some(3L), 5L -> Some(0L), 6L -> Some(2L))
    val turns = (0L until 3L).flatMap { c =>
      (0L until 7L).map { t =>
        (c, t, parentOf(t).map(java.lang.Long.valueOf).orNull,
          if (t % 2 == 0) "user" else "assistant",
          s"c$c t$t w${(t * 7 + c) % 5} z${t % 3}")
      }
    }
    val turnsDf = turns.toDF("conv_id", "turn_id", "parent_id", "role", "content")
    turnsDf.write.parquet(s"$root/turns")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "sft_release",
        "--turns", s"$root/turns", "--out", s"$root/rel",
        "--parent_col", "parent_id", "--turn_col", "turn_id",
        "--budget", "64", "--shards", "2", "--export_shards", "2"),
      spark)
    // decode the landing: (pack, pos, token)
    val arrays = spark.read.parquet(s"$root/rel/shards")
    val decoded = arrays
      .select(col("pack_id"), explode(arrays_zip(col("positions"), col("token_ids"))).as("z"))
      .select(col("pack_id"), col("z.positions").as("pos"), col("z.token_ids").as("tid"))
    val vocab = spark.read.parquet(s"$root/rel/vocab")
    val toks = decoded
      .join(vocab, decoded("tid") === vocab("token_id"))
      .select(col("pack_id"), col("pos"), col("token"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2))).toMap
    // provenance: mask rows key (path doc_id, turn_key=pos) -> the
    // ORIGINAL (conv, turn) through the path_turns table
    val pathTurns = spark.read.parquet(s"$root/rel/path_turns")
      .select(col("doc_id"), col("turn_key"), col("conv_id"), col("turn_id"),
        col("orig_role"), col("train"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)), r.getString(4), r.getBoolean(5)))
      .toMap
    val masks = spark.read.parquet(s"$root/rel/shards/_role_masks")
      .select(col("conv_id"), col("turn_key"), col("pack_id"),
        col("mask_start"), col("mask_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every masked (path, pos)'s decoded tokens == its ORIGINAL
    // turn's content tokens, and each original turn is masked AT
    // MOST once across the whole release
    val maskedTurns = masks.groupBy(m => (m._1, m._2)).toSeq.map { case ((docId, turnKey), rows) =>
      val ((conv, turn), origRole, train) = pathTurns((docId, turnKey))
      assert(origRole == "assistant" && train,
        s"mask on path $docId pos $turnKey must be a first-visit assistant turn")
      val got = rows.sortBy(r => (r._3, r._4)).toSeq
        .flatMap { case (_, _, packId, s, e) => (s until e).map(p => toks((packId, p))) }
      val want = turns.find(t => t._1 == conv && t._2 == turn).get._5.split("\\s+").toSeq
      assert(got == want, s"conv $conv turn $turn decoded mask tokens diverge: $got vs $want")
      (conv, turn)
    }
    assert(maskedTurns.length == maskedTurns.distinct.length,
      "an original turn is loss-on more than once — the first-visit rule is broken")
    // ...and every assistant turn is masked EXACTLY once (none missing)
    val wantMasked = turns.filter(_._4 == "assistant").map(t => (t._1, t._2)).toSet
    assert(maskedTurns.toSet == wantMasked,
      s"masked turn set diverges: ${maskedTurns.toSet} vs $wantMasked")
    // shared prefixes DO ride along: conv 0's turn 0 content appears
    // in all three of its paths' rendered docs (3 memberships), but
    // (being user-role) in zero masks
    val t0Memberships = spark.read.parquet(s"$root/rel/path_turns")
      .filter(col("conv_id") === 0L && col("turn_id") === 0L).count()
    assert(t0Memberships == 3L, s"turn 0 must ride along on all 3 paths, got $t0Memberships")
    // audit invariant: masked_tokens == train-role turns' token total
    // counted ONCE each, fan-out notwithstanding
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/rel/_sft_release.json")), "UTF-8")
    val wantToks = turns.filter(_._4 == "assistant").map(_._5.split("\\s+").length.toLong).sum
    assert(audit.contains(s""""masked_tokens": $wantToks"""), audit)
    assert(audit.contains(""""mode": "tree""""), audit)
    assert(audit.contains(""""paths": 9"""), audit)
  }

  test("tree sft_release --paths_state: the state-served release equals the closure-run release") {
    // fold the branched store into a durable TreeState in two causal
    // appends, then release once from the state and once from the
    // closure — the landed artifacts must be identical (the state's
    // whole contract, now proven at the CAPSTONE level, not just the
    // membership level)
    val root = java.nio.file.Files.createTempDirectory("graft-sft-tree-state").toString
    val parentOf: Map[Long, Option[Long]] = Map(
      0L -> None, 1L -> Some(0L), 2L -> Some(1L), 3L -> Some(1L),
      4L -> Some(3L), 5L -> Some(0L), 6L -> Some(2L))
    val turns = (0L until 2L).flatMap { c =>
      (0L until 7L).map { t =>
        (c, t, parentOf(t).map(java.lang.Long.valueOf).orNull,
          if (t % 2 == 0) "user" else "assistant",
          s"c$c t$t w${(t * 7 + c) % 5}")
      }
    }
    val turnsDf = turns.toDF("conv_id", "turn_id", "parent_id", "role", "content")
    turnsDf.write.parquet(s"$root/turns")
    val state = s"$root/tree_state"
    graft.operators.TreeState.fold(
      spark, turnsDf.filter(col("turn_id") <= 3L),
      "conv_id", "turn_id", "parent_id", state, Some(0L))
    graft.operators.TreeState.fold(
      spark, turnsDf.filter(col("turn_id") >= 4L),
      "conv_id", "turn_id", "parent_id", state, Some(1L))
    def release(out: String, extra: Array[String]): Unit =
      graft.pipeline.PipelineRunner.run(
        Array("--maintenance", "sft_release",
          "--turns", s"$root/turns", "--out", out,
          "--parent_col", "parent_id", "--turn_col", "turn_id",
          "--budget", "64", "--shards", "2", "--export_shards", "2") ++ extra,
        spark)
    release(s"$root/rel_a", Array.empty)
    release(s"$root/rel_b", Array("--paths_state", state))
    def landed(out: String): (Set[Seq[Any]], Set[Seq[Any]], Set[Seq[Any]]) = (
      spark.read.parquet(s"$out/path_turns").collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$out/shards")
        .select(col("pack_id"), col("positions"), col("token_ids"))
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$out/shards/_role_masks").collect().map(_.toSeq).toSet
    )
    val (ptA, shA, mkA) = landed(s"$root/rel_a")
    val (ptB, shB, mkB) = landed(s"$root/rel_b")
    assert(ptA == ptB, "path_turns diverge between state-served and closure-run releases")
    assert(shA == shB, "landed shards diverge")
    assert(mkA == mkB, "role masks diverge")
    assert(shA.nonEmpty && mkA.nonEmpty)
  }

  test("tree sft_release with a NON-DEFAULT content column: the rename stops at tree_render") {
    // tree_render writes path_turns with canonical names (content is
    // literally 'content'), so the user's --content_col must apply to
    // the INPUT read only — reusing it downstream threw
    // AnalysisException and broke the advertised tree mode.
    val root = java.nio.file.Files.createTempDirectory("graft-sft-tree-cc").toString
    val turns = Seq(
      (1L, 0L, Option.empty[Long], "user", "hi there"),
      (1L, 1L, Some(0L), "assistant", "ok good"),
      (1L, 2L, Some(0L), "assistant", "meh fine"),
      (1L, 3L, Some(1L), "user", "more"),
      (1L, 4L, Some(3L), "assistant", "yes")
    ).map { case (c, t, p, r, b) => (c, t, p.map(java.lang.Long.valueOf).orNull, r, b) }
      .toDF("conv_id", "turn_id", "parent_id", "who", "body")
    turns.write.parquet(s"$root/turns")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "sft_release",
        "--turns", s"$root/turns", "--out", s"$root/rel",
        "--parent_col", "parent_id", "--turn_col", "turn_id",
        "--role_col", "who", "--content_col", "body",
        "--budget", "32", "--shards", "2", "--export_shards", "2"),
      spark)
    // assistant turns 1, 2, 4: 5 tokens total, loss-on exactly once each
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/rel/_sft_release.json")), "UTF-8")
    assert(audit.contains(""""masked_tokens": 5"""), audit)
    assert(audit.contains(""""mode": "tree""""), audit)
    assert(spark.read.parquet(s"$root/rel/shards").count() > 0)
  }

  test("sft_release refuses turns with empty or edge-whitespace content") {
    val root = java.nio.file.Files.createTempDirectory("graft-sft-release-bad").toString
    Seq((1L, 1L, "user", "ok"), (1L, 2L, "assistant", " leading"))
      .toDF("conv_id", "turn_key", "role", "content")
      .write.parquet(s"$root/turns")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.PipelineRunner.run(
        Array("--maintenance", "sft_release",
          "--turns", s"$root/turns", "--out", s"$root/rel"),
        spark)
    }
    assert(e.getMessage.contains("leading/trailing whitespace"))
  }

  test("purgePairs: empty contaminated set is the identity") {
    val pairs = Preference.preferencePairs(
      queries.PreferenceQueries.responses(spark, "/root/testdata/sf0.001"),
      "prompt_id", "doc_id", "reward")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType))
    val out = Preference.purgePairs(pairs, Seq("chosen_id", "rejected_id"), empty, "doc_id")
    assert(out.count() == pairs.count())
  }

  // ------------------------------------------------------------------
  // winIngest: incremental per-(prompt, policy) best-score state
  // ------------------------------------------------------------------

  test("branchPairs: sibling regenerations pair chosen/rejected; singles and ties emit nothing") {
    // conv 1: parent 10 has three assistant children (regenerations)
    //   11 (score 5), 12 (score 9), 13 (score 5) — chosen 12, rejected
    //   11 (tie with 13 broken to the SMALLER id, preferencePairs'
    //   contract); parent 20 has one child (no pair); parent 30's two
    //   children tie (zero margin — no pair); user siblings never pair.
    val turns = Seq(
      (1L, 10L, Option.empty[Long], "user", 0L),
      (1L, 11L, Some(10L), "assistant", 5L),
      (1L, 12L, Some(10L), "assistant", 9L),
      (1L, 13L, Some(10L), "assistant", 5L),
      (1L, 20L, Option.empty[Long], "user", 0L),
      (1L, 21L, Some(20L), "assistant", 7L),
      (1L, 30L, Option.empty[Long], "user", 0L),
      (1L, 31L, Some(30L), "assistant", 4L),
      (1L, 32L, Some(30L), "assistant", 4L),
      (2L, 40L, Option.empty[Long], "assistant", 0L),
      (2L, 41L, Some(40L), "user", 3L),
      (2L, 42L, Some(40L), "user", 8L)
    ).map { case (c, t, p, r, s) => (c, t, p.map(java.lang.Long.valueOf).orNull, r, s) }
      .toDF("conv_id", "turn_id", "parent_id", "role", "score")
    val got = Preference
      .branchPairs(turns, "conv_id", "turn_id", "parent_id", "role", "score", "assistant")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq((1L, 10L, 12L, 11L, 9L, 5L, 4L)))
  }

  test("branchTiesDropped counts exactly the all-tied n>=2 groups the tie contract drops") {
    // Same fixture shape as above: parent 30's group (two children,
    // both score 4) is the ONE group the tie contract silently drops —
    // the single-child group (parent 20) and the signal-bearing group
    // (parent 10) must NOT count, and the verb prints this number so a
    // coarse-score rater pipeline sees its shrinkage.
    val turns = Seq(
      (1L, 10L, Option.empty[Long], "user", 0L),
      (1L, 11L, Some(10L), "assistant", 5L),
      (1L, 12L, Some(10L), "assistant", 9L),
      (1L, 20L, Option.empty[Long], "user", 0L),
      (1L, 21L, Some(20L), "assistant", 7L),
      (1L, 30L, Option.empty[Long], "user", 0L),
      (1L, 31L, Some(30L), "assistant", 4L),
      (1L, 32L, Some(30L), "assistant", 4L),
      (2L, 30L, Option.empty[Long], "user", 0L),
      (2L, 31L, Some(30L), "assistant", 2L),
      (2L, 32L, Some(30L), "assistant", 2L)
    ).map { case (c, t, p, r, s) => (c, t, p.map(java.lang.Long.valueOf).orNull, r, s) }
      .toDF("conv_id", "turn_id", "parent_id", "role", "score")
    assert(Preference.branchTiesDropped(
      turns, "conv_id", "turn_id", "parent_id", "role", "score", "assistant") == 2L)
    // cross-check: pairs emitted + all-tied dropped + single-child = groups
    val pairs = Preference
      .branchPairs(turns, "conv_id", "turn_id", "parent_id", "role", "score", "assistant")
      .count()
    assert(pairs == 1L)
  }

  test("branchPairs: string turn ids fail loudly at entry") {
    val turns = Seq((1L, "a", null.asInstanceOf[String], "assistant", 1L))
      .toDF("conv_id", "turn_id", "parent_id", "role", "score")
    val e = intercept[IllegalArgumentException](
      Preference.branchPairs(turns, "conv_id", "turn_id", "parent_id", "role", "score", "assistant"))
    assert(e.getMessage.contains("NUMERIC"), e.getMessage)
  }

  test("winIngest: any batch split and order folds to the one-shot win matrix; replay no-op") {
    val rnd = new scala.util.Random(404)
    val rows = (0L until 600L).map { id =>
      (id % 37, s"p${rnd.nextInt(4)}", rnd.nextInt(500).toLong, id)
    }
    val df = rows.toDF("prompt_id", "policy", "score", "rid")
    def matrixOf(d: org.apache.spark.sql.DataFrame) =
      Preference
        .winMatrix(d, "prompt_id", "policy", "score")
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
    val oneShot = matrixOf(df)
    // three arbitrary batch splits, including out-of-order arrival
    for ((splitKey, seed) <- Seq(3L -> 11, 5L -> 22, 2L -> 33)) {
      val state = java.nio.file.Files
        .createTempDirectory(s"graft-win-fold-$seed")
        .resolve("state")
        .toString
      val order = new scala.util.Random(seed).shuffle((0L until splitKey).toList)
      order.zipWithIndex.foreach { case (k, i) =>
        Preference.winIngest(
          spark, df.filter(col("rid") % splitKey === k),
          "prompt_id", "policy", "score", state, Some(i.toLong))
      }
      // replay the last applied batch — marker makes it a no-op
      Preference.winIngest(
        spark, df.filter(col("rid") % splitKey === order.last),
        "prompt_id", "policy", "score", state, Some((order.length - 1).toLong))
      val fromState = Preference
        .winMatrixFromState(spark, state)
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      assert(fromState == oneShot, s"split $splitKey must fold to the one-shot matrix")
    }
  }

  test("a key column named like a state value column is refused loudly, not misread") {
    // the old schema-elimination inference misread this shape
    // silently (and the state write would collide); both ingests now
    // refuse reserved names up front
    val df = Seq(("q1", "a", 10L), ("q1", "b", 7L)).toDF("best", "policy", "score")
    val state = java.nio.file.Files
      .createTempDirectory("graft-win-keys")
      .resolve("state")
      .toString
    val e = intercept[IllegalArgumentException](
      Preference.winIngest(spark, df, "best", "policy", "score", state))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    val resp = Seq((1L, 10L, 5L)).toDF("chosen_id", "doc_id", "reward")
    val e2 = intercept[IllegalArgumentException](
      Preference.pairIngest(spark, resp, "chosen_id", "doc_id", "reward", state))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("a legacy state without _state_keys is refused loudly; replaying any batch migrates it") {
    val df = Seq((1L, "a", 10L), (1L, "b", 7L)).toDF("prompt_id", "policy", "score")
    val state = java.nio.file.Files
      .createTempDirectory("graft-win-legacy")
      .resolve("state")
      .toString
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", state, Some(0L))
    // simulate a pre-sidecar state
    val p = new org.apache.hadoop.fs.Path(state, "_state_keys")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    val e = intercept[IllegalArgumentException](Preference.winMatrixFromState(spark, state))
    assert(e.getMessage.contains("_state_keys"), e.getMessage)
    // the applied-id retry is a no-op fold that still records the keys
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", state, Some(0L))
    assert(Preference.winMatrixFromState(spark, state).count() == 1)
  }

  test("a mis-keyed fold into an existing state is refused before touching it") {
    val df = Seq((1L, "a", 10L), (1L, "b", 7L)).toDF("prompt_id", "policy", "score")
    val state = java.nio.file.Files
      .createTempDirectory("graft-win-miskey")
      .resolve("state")
      .toString
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", state)
    val e = intercept[IllegalArgumentException](
      Preference.winIngest(
        spark,
        df.withColumnRenamed("prompt_id", "qid"),
        "qid", "policy", "score", state))
    assert(e.getMessage.contains("mis-keyed"), e.getMessage)
    // pairIngest guards the same way
    val pstate = java.nio.file.Files
      .createTempDirectory("graft-pair-miskey")
      .resolve("state")
      .toString
    val resp = Seq((1L, 10L, 5L), (1L, 11L, 3L)).toDF("prompt_id", "doc_id", "reward")
    Preference.pairIngest(spark, resp, "prompt_id", "doc_id", "reward", pstate)
    val e2 = intercept[IllegalArgumentException](
      Preference.pairIngest(
        spark,
        resp.withColumnRenamed("prompt_id", "qid"),
        "qid", "doc_id", "reward", pstate))
    assert(e2.getMessage.contains("mis-keyed"), e2.getMessage)
  }

  test("winIngest: a replayed batch WITHOUT a marker is still a no-op by the max semilattice") {
    val df = Seq((1L, "a", 10L), (1L, "b", 7L), (2L, "a", 3L), (2L, "b", 3L))
      .toDF("prompt_id", "policy", "score")
    val state = java.nio.file.Files
      .createTempDirectory("graft-win-algebra")
      .resolve("state")
      .toString
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", state)
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", state)
    val m = Preference.winMatrixFromState(spark, state).collect()
    assert(m.length == 1)
    val r = m.head
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == ((1L, 0L, 1L, 2L)),
      "double-folding max state must not change wins/ties")
  }

  test("win_ingest CLI verb folds batches and lands the current matrix") {
    val root = java.nio.file.Files.createTempDirectory("graft-win-cli").toString
    Seq((1L, "p0", 5L), (1L, "p1", 9L), (2L, "p0", 4L))
      .toDF("prompt_id", "policy", "score")
      .write.parquet(s"$root/b0")
    Seq((2L, "p1", 4L), (3L, "p0", 1L))
      .toDF("prompt_id", "policy", "score")
      .write.parquet(s"$root/b1")
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "win_ingest", "--batch", s"$root/b0",
        "--state", s"$root/state", "--applied_id", "0"),
      spark)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "win_ingest", "--batch", s"$root/b1",
        "--state", s"$root/state", "--applied_id", "1",
        "--out", s"$root/matrix"),
      spark)
    val got = spark.read.parquet(s"$root/matrix").collect()
    assert(got.length == 1)
    val r = got.head
    // shared prompts 1 (p1 wins 9>5) and 2 (tie 4=4); prompt 3 excluded
    assert((r.getString(0), r.getString(1)) == (("p0", "p1")))
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) == ((0L, 1L, 1L, 2L)))
  }

  // ------------------------------------------------------------------
  // negative-operand floor semantics + numeric-id entry guards
  // ------------------------------------------------------------------

  test("micro-unit means FLOOR on negative score sums (engine-portable, == Math.floorDiv)") {
    // Spark's bare `div` truncates toward zero; DuckDB's `//` floors.
    // The micro means must floor so both engines agree on NEGATIVE
    // rewards too — property-checked against Math.floorDiv on sums
    // drawn from both signs (and exercising sums that don't divide
    // evenly, where truncate and floor actually differ).
    val rnd = new scala.util.Random(2024)
    val rows = (0L until 300L).map(id => (id % 7, id, rnd.nextInt(201) - 100L))
    val df = rows.toDF("prompt_id", "doc_id", "reward")

    // groupAdvantage
    val adv = Preference.groupAdvantage(df, "prompt_id", "doc_id", "reward")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (p, g) =>
      val mean = Math.floorDiv(1000000L * g.map(_._3).sum, g.length.toLong)
      adv.filter(_._1 == p).foreach { case (_, id, score, a) =>
        assert(a == 1000000L * score - mean, s"prompt $p doc $id must use FLOOR mean")
      }
    }

    // lengthDebias (negative scores, buckets from a length column)
    val lenRows = (0L until 300L).map(id => (id, rnd.nextInt(201) - 100L, rnd.nextInt(300).toLong))
    val deb = Preference.lengthDebias(
      lenRows.toDF("doc_id", "reward", "n_toks"), "doc_id", "reward", "n_toks", 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    lenRows.groupBy(_._3 / 50L).foreach { case (b, g) =>
      val mean = Math.floorDiv(1000000L * g.map(_._2).sum, g.length.toLong)
      deb.filter(_._2 == b).foreach { case (id, _, score, a) =>
        assert(a == 1000000L * score - mean, s"bucket $b doc $id must use FLOOR mean")
      }
    }

    // raterAgreement
    val ratings = (0L until 300L).map(id => (id % 11, rnd.nextInt(21) - 10L))
    val rec = Preference.raterAgreement(
      ratings.toDF("doc_id", "score"), "doc_id", "score", disputeRange = 5L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    ratings.groupBy(_._1).foreach { case (id, g) =>
      assert(rec(id) == Math.floorDiv(1000000L * g.map(_._2).sum, g.length.toLong),
        s"response $id mean_micro must floor")
    }
  }

  test("string response ids fail LOUDLY at entry instead of silently breaking the tie-break") {
    val strIds = Seq((1L, "u-a", 5L), (1L, "u-b", 5L)).toDF("prompt_id", "doc_id", "reward")
    Seq(
      ("preferencePairs",
        () => Preference.preferencePairs(strIds, "prompt_id", "doc_id", "reward")),
      ("dedupResponses",
        () => Preference.dedupResponses(
          strIds.withColumn("content", lit("x")), "prompt_id", "doc_id", "reward", "content")),
      ("pairIngest",
        () => Preference.pairIngest(
          spark, strIds, "prompt_id", "doc_id", "reward",
          java.nio.file.Files.createTempDirectory("graft-strid").resolve("s").toString))
    ).foreach { case (op, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("NUMERIC"), s"$op: ${e.getMessage}")
      assert(e.getMessage.contains(op), s"$op must be named: ${e.getMessage}")
    }
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.keepBestOfCluster(
        strIds.select(col("doc_id"), col("reward").as("q")),
        spark.emptyDataFrame
          .withColumn("doc_a", lit("x")).withColumn("doc_b", lit("y")),
        "doc_id", "q"))
    assert(e.getMessage.contains("keepBestOfCluster"), e.getMessage)
  }

  // ------------------------------------------------------------------
  // btRatings — the arena ranking capstone
  // ------------------------------------------------------------------

  private def matrixDf(rows: (String, String, Long, Long, Long)*): DataFrame =
    rows.toSeq
      .map { case (a, b, wa, wb, t) => (a, b, wa, wb, t, wa + wb + t) }
      .toDF("policy_a", "policy_b", "wins_a", "wins_b", "ties", "n_prompts")

  test("btRatings: an all-ties matrix is an EXACT fixed point at 1e6 micro") {
    // w2_i = Σ ties; denom_i = Σ (2n·1e12)//(2e6) = Σ n·1e6 = games·1e6;
    // π' = (games·1e12)//(games·1e6) = 1e6 — exactly, every iteration.
    val out = Preference
      .btRatings(matrixDf(("a", "b", 0L, 0L, 7L), ("a", "c", 0L, 0L, 3L), ("b", "c", 0L, 0L, 5L)),
        iters = 10)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a") == ((1000000L, 10L, 10L)))
    assert(out("b") == ((1000000L, 12L, 12L)))
    assert(out("c") == ((1000000L, 8L, 8L)))
  }

  test("btRatings: a strict dominance chain orders ratings, winless floors at 1") {
    // a beats b 10-0, b beats c 10-0, a beats c 10-0: rating a > b > c;
    // c never wins or ties, so its w2 is 0 and its rating floors to 1.
    val out = Preference
      .btRatings(matrixDf(("a", "b", 10L, 0L, 0L), ("b", "c", 10L, 0L, 0L), ("a", "c", 10L, 0L, 0L)),
        iters = 10)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a")._1 > out("b")._1 && out("b")._1 > out("c")._1, out.toString)
    assert(out("c")._1 == 1L)
    assert(out("a")._2 == 40L && out("a")._3 == 20L) // 2·20 wins, 20 games
    assert(out("b")._2 == 20L && out("b")._3 == 20L)
  }

  test("btRatings: a zero-game matrix row keeps both policies at the 1e6 prior") {
    val out = Preference
      .btRatings(matrixDf(("a", "b", 0L, 0L, 0L)), iters = 5)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(out == Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("btRatings: iteration count is load-bearing (the oracle must unroll the same n)") {
    val m = matrixDf(("a", "b", 7L, 2L, 1L), ("b", "c", 5L, 5L, 0L), ("a", "c", 3L, 6L, 1L))
    val one = Preference.btRatings(m, iters = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ten = Preference.btRatings(m, iters = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one != ten, "1 and 10 MM iterations should differ on an asymmetric matrix")
  }

  test("btRatings over the winIngest state == btRatings over the one-shot batch matrix") {
    val rnd = new scala.util.Random(90210)
    val rows = (0L until 600L).map { id =>
      (id % 40, s"p${id % 4}", rnd.nextInt(50).toLong)
    }
    val df = rows.toDF("prompt_id", "policy", "reward")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-bt-state").resolve("s").toString
    Preference.winIngest(spark, df.filter($"prompt_id" % 2 === 0),
      "prompt_id", "policy", "reward", statePath, Some(1L))
    Preference.winIngest(spark, df.filter($"prompt_id" % 2 === 1),
      "prompt_id", "policy", "reward", statePath, Some(2L))
    val fromState = Preference.btRatingsFromState(spark, statePath, iters = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val oneShot = Preference.btRatings(
      Preference.winMatrix(df, "prompt_id", "policy", "reward"), iters = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromState == oneShot)
  }

  test("btRatings: rating is a function of the matrix, not of row order or pair orientation") {
    // Flipping a pair's orientation (a,b,wa,wb) -> (b,a,wb,wa) and
    // permuting rows must not change any rating.
    val m1 = matrixDf(("a", "b", 7L, 2L, 1L), ("b", "c", 5L, 4L, 1L), ("a", "c", 3L, 6L, 1L))
    val m2 = matrixDf(("a", "c", 3L, 6L, 1L), ("b", "a", 2L, 7L, 1L), ("c", "b", 4L, 5L, 1L))
    val r1 = Preference.btRatings(m1, iters = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val r2 = Preference.btRatings(m2, iters = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r1 == r2)
  }

  test("bt_ratings CLI verb: --state and --matrix arms land the same board as the library") {
    val root = java.nio.file.Files.createTempDirectory("graft-bt-cli").toString
    val df = (0L until 300L)
      .map(id => (id % 30, s"p${id % 3}", (id * 7919 % 100)))
      .toDF("prompt_id", "policy", "score")
    Preference.winIngest(spark, df, "prompt_id", "policy", "score", s"$root/state", Some(1L))
    Preference.winMatrixFromState(spark, s"$root/state")
      .write.parquet(s"$root/matrix")
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "bt_ratings", "--state", s"$root/state",
      "--iters", "7", "--out", s"$root/board_state"), spark)
    graft.pipeline.PipelineRunner.run(Array(
      "--maintenance", "bt_ratings", "--matrix", s"$root/matrix",
      "--iters", "7", "--out", s"$root/board_matrix"), spark)
    val lib = Preference
      .btRatings(spark.read.parquet(s"$root/matrix"), iters = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Seq("board_state", "board_matrix").foreach { arm =>
      val got = spark.read.parquet(s"$root/$arm")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == lib, s"$arm diverges from the library fit")
    }
  }

  test("btCalibration: exact predicted/observed micro rates; undecided pairs excluded") {
    val ratings = Seq(
      ("a", 2000000L, 0L, 0L),
      ("b", 1000000L, 0L, 0L),
      ("c", 1000000L, 0L, 0L)
    ).toDF("policy", "rating_micro", "w2", "games")
    val matrix = matrixDf(
      ("a", "b", 5L, 4L, 1L), // decided: pred 2/3, obs 5/9
      ("a", "c", 0L, 0L, 7L) // all ties: no decided game -> excluded
    )
    val out = Preference
      .btCalibration(matrix, ratings)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(out.keySet == Set(("a", "b")), s"undecided pair must be excluded: $out")
    val (pred, obs, gap) = out(("a", "b"))
    assert(pred == 666666L) // floor(2e6·1e6 / 3e6)
    assert(obs == 555555L) // floor(5·1e6 / 9)
    assert(gap == 111111L)
  }

  test("btCalibration: the two-step long division equals BigInt floor over the full clamp range") {
    val rnd = new scala.util.Random(20260815L)
    val cases = (0 until 300).map { i =>
      // span the whole btRatings clamp range [1, 1e15], incl. extremes
      val pa = if (i == 0) 1L else if (i == 1) 1000000000000000L
        else 1L + (rnd.nextDouble() * 999999999999999L).toLong
      val pb = if (i == 2) 1000000000000000L else 1L + (rnd.nextDouble() * 999999999999999L).toLong
      (s"x$i", s"y$i", pa, pb)
    }
    val matrix = cases
      .map { case (a, b, _, _) => (a, b, 1L, 0L, 0L, 1L) }
      .toDF("policy_a", "policy_b", "wins_a", "wins_b", "ties", "n_prompts")
    val ratings = cases
      .flatMap { case (a, b, pa, pb) => Seq((a, pa), (b, pb)) }
      .toDF("policy", "rating_micro")
    val got = Preference
      .btCalibration(matrix, ratings)
      .collect()
      .map(r => r.getString(0) -> r.getLong(5)) // policy_a -> pred_micro
      .toMap
    cases.foreach { case (a, _, pa, pb) =>
      val exp = (BigInt(pa) * 1000000 / (BigInt(pa) + BigInt(pb))).toLong
      assert(got(a) == exp, s"pi_a=$pa pi_b=$pb: got ${got(a)}, want $exp")
    }
  }

  test("lengthBiasSlope: exact closed form incl. negative slopes; zero variance emits no row") {
    val rows = Seq(
      // policy a: y = 2x exactly -> slope 2e6, intercept 0
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),
      // policy b: shorter-is-better -> negative slope (floor matters)
      ("b", 1L, 5L), ("b", 2L, 3L),
      // policy c: constant length -> zero variance, no row
      ("c", 4L, 1L), ("c", 4L, 9L)
    ).toDF("policy", "n_toks", "reward")
    val got = Preference
      .lengthBiasSlope(rows, "policy", "n_toks", "reward")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set("a", "b"))
    assert(got("a") == ((3L, 2000000L, 0L)))
    // b: n=2 sx=3 sy=8 sxy=11 sxx=5 -> vxy=-2 vxx=1 -> slope -2e6;
    // intercept = (8e6 - (-2e6)*3)/2 = 7e6
    assert(got("b") == ((2L, -2000000L, 7000000L)))
  }

  test("lengthBiasSlope: random corpora match an independent Math.floorDiv replay") {
    val rnd = new scala.util.Random(55911)
    val rows = (0 until 600).map { i =>
      (s"p${i % 4}", (rnd.nextInt(50) + 1).toLong, (rnd.nextInt(200) - 100).toLong)
    }
    val got = Preference
      .lengthBiasSlope(rows.toDF("policy", "x", "y"), "policy", "x", "y")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    rows.groupBy(_._1).foreach { case (p, g) =>
      val n = g.size.toLong
      val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
      val sxy = g.map(t => t._2 * t._3).sum; val sxx = g.map(t => t._2 * t._2).sum
      val vxy = n * sxy - sx * sy; val vxx = n * sxx - sx * sx
      val slope = Math.floorDiv(1000000L * vxy, vxx)
      val intercept = Math.floorDiv(1000000L * sy - slope * sx, n)
      assert(got(p) == ((slope, intercept)), s"policy $p")
    }
  }

  test("btRatings: the maxPairs interlock fails loudly on a doc-grained matrix") {
    val big = (0L until 50L)
      .map(i => (s"a$i", s"b$i", 1L, 0L, 0L, 1L))
      .toDF("policy_a", "policy_b", "wins_a", "wins_b", "ties", "n_prompts")
    val e = intercept[IllegalArgumentException](
      Preference.btRatings(big, iters = 3, maxPairs = 10))
    assert(e.getMessage.contains("btRatings"), e.getMessage)
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
  }

  // ------------------------------------------------------------------
  // reader-side lease discipline (r16): serving readers heal crashed
  // swaps, and refuse to heal under a live lease — TreeState's
  // protocol, spread to the pair/win families
  // ------------------------------------------------------------------

  private def mv(a: String, b: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))

  test("pairsFromState heals a crashed swap; refuses to heal under a live lease") {
    val root = java.nio.file.Files.createTempDirectory("graft-pair-readlease").toString
    val state = s"$root/state"
    Preference.pairIngest(spark,
      Seq((1L, 10L, 3L), (1L, 11L, 5L)).toDF("prompt_id", "doc_id", "reward"),
      "prompt_id", "doc_id", "reward", state, Some(1L))
    // a writer crash between the swap's two renames strands the target
    // as .__refresh_old — before r16 every serving read then failed on
    // "path does not exist" until the next WRITE ran entry healing
    mv(state, s"$state.__refresh_old")
    assert(Preference.pairsFromState(spark, state).count() == 1, "reader must heal the strand")
    assert(new java.io.File(state).exists() && !new java.io.File(s"$state.__refresh_old").exists())
    // the same strand under a LIVE lease is ambiguous (writer mid-swap
    // vs crash): the reader refuses instead of racing the renames
    mv(state, s"$state.__refresh_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"),
      graft.operators.DurableRoot.leaseBody("fold:7"))
    val e = intercept[IllegalArgumentException](Preference.pairsFromState(spark, state))
    assert(e.getMessage.contains("refusing to heal under a lease"), e.getMessage)
    // lease cleared (writer finished or lease_break): the reader heals
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state.__writer"))
    assert(Preference.pairsFromState(spark, state).count() == 1)
    // live lease + NOTHING stranded: plain reads proceed (swap renames
    // are atomic — a concurrent read sees a complete state either way)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"),
      graft.operators.DurableRoot.leaseBody("fold:8"))
    assert(Preference.pairsFromState(spark, state).count() == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("winMatrixFromState heals a crashed swap; refuses to heal under a live lease") {
    val root = java.nio.file.Files.createTempDirectory("graft-win-readlease").toString
    val state = s"$root/state"
    Preference.winIngest(spark,
      Seq((1L, "a", 3L), (1L, "b", 5L)).toDF("prompt_id", "policy", "score"),
      "prompt_id", "policy", "score", state, Some(1L))
    mv(state, s"$state.__refresh_old")
    assert(Preference.winMatrixFromState(spark, state).count() == 1, "reader must heal the strand")
    mv(state, s"$state.__refresh_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state.__writer"),
      graft.operators.DurableRoot.leaseBody("fold:7"))
    val e = intercept[IllegalArgumentException](Preference.winMatrixFromState(spark, state))
    assert(e.getMessage.contains("refusing to heal under a lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state.__writer"))
    // btRatingsFromState rides the same gate (it reads via
    // winMatrixFromState): after the heal it serves
    assert(Preference.btRatingsFromState(spark, state).count() == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
