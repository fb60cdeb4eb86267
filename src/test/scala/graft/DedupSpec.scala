package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The df-cap knob on the near-dup candidate generator: a cap at or
  * above the maximum shingle document frequency must be lossless, and
  * any tighter cap may only REMOVE pairs (bounded-recall contract —
  * never invents candidates).
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-dedup-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("df-cap >= max document frequency is lossless") {
    val uncapped = pairSet(queries.TextQueries.nearDupPairs(spark, sf))
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val capped = pairSet(queries.TextQueries.nearDupPairs(spark, sf, dfCap = Some(nDocs)))
    assert(capped == uncapped, "cap above any possible df must not change the result")
    assert(uncapped.nonEmpty, "fixture should produce near-dup pairs")
  }

  test("tight df-cap only removes pairs, never invents them") {
    val uncapped = pairSet(queries.TextQueries.nearDupPairs(spark, sf))
    val capped = pairSet(queries.TextQueries.nearDupPairs(spark, sf, dfCap = Some(2L)))
    assert(capped.subsetOf(uncapped), s"invented pairs: ${capped -- uncapped}")
  }

  test("threshold parameter tightens the pair set monotonically") {
    val loose = pairSet(queries.TextQueries.nearDupPairs(spark, sf, threshold = 0.3))
    val strict = pairSet(queries.TextQueries.nearDupPairs(spark, sf, threshold = 0.7))
    assert(strict.subsetOf(loose))
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id", "comp").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def ccBoth(pairs: Seq[(Long, Long)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
    import spark.implicits._
    val df = pairs.toDF("doc_a", "doc_b")
    (labels(operators.Dedup.connectedComponents(df)),
      labels(operators.Dedup.connectedComponentsStar(df)))
  }

  test("star CC equals label propagation on the real near-dup graph") {
    val pairs = queries.TextQueries.nearDupPairs(spark, sf)
    val prop = labels(operators.Dedup.connectedComponents(pairs))
    val star = labels(operators.Dedup.connectedComponentsStar(pairs))
    assert(prop.nonEmpty && star == prop)
  }

  test("star CC handles a deep chain (diameter >> log² n)") {
    val chain = (1L until 60L).map(i => (i, i + 1))
    val (prop, star) = ccBoth(chain)
    assert(star == prop)
    assert(star == (1L to 60L).map(i => (i, 1L)).toSet, "one component labeled by its minimum")
  }

  test("star CC equals label propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val n = 80
      val edges = (0 until 120).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val (prop, star) = ccBoth(edges)
      assert(star == prop, "star and propagation labels must agree")
    }
  }

  test("decontamPurge: verdicts on a handcrafted train/eval fixture") {
    import spark.implicits._
    // eval benchmark holds "a b c d" -> shingles {abc, bcd}
    val evalDocs = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e"),   // shingles {abc, bcd, cde}: 2/3 overlap -> contaminated
      (2L, "x y a b c"),   // shingles {xya, yab, abc}: 1/3 overlap -> reported, not contaminated
      (3L, "p q r s t"),   // disjoint -> absent from the report
      (4L, "p q")          // <3 tokens -> no shingles, absent
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .decontamPurge(train, evalDocs, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Int]("n_sh"), r.getAs[Long]("n_overlap"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((3, 2L, true)))
    assert(got(2L) == ((3, 1L, false)))
  }

  test("purgeAnyOf: any-member drop, member-keyed containment, planted n-gram purges exactly its pair") {
    import spark.implicits._
    // eval benchmark holds "a b c d" -> shingles {abc, bcd}
    val evalDocs = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val triples = Seq(
      // pair 1: CHOSEN contains the eval n-gram (2/3 containment) -> purged
      (1L, 0L, "p q r s t", "a b c d e", "u v w x y"),
      // pair 2: all members disjoint from eval -> survives
      (2L, 0L, "p q r s t", "m n o p q", "u v w x y"),
      // pair 3: PROMPT contaminated (the context leaked) -> purged
      (3L, 0L, "z a b c d", "m n o p q", "u v w x y"),
      // pair 4: members too short for shingles -> survives
      (4L, 0L, "a b", "c d", "e f")
    ).toDF("conv_id", "parent_id", "prompt", "chosen", "rejected")
    val clean = graft.operators.Dedup
      .purgeAnyOf(triples, evalDocs, Seq("conv_id", "parent_id"),
        Seq("prompt", "chosen", "rejected"), "text")
      .select("conv_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L), s"planted eval n-grams must purge pairs 1 and 3 only: $clean")
  }

  test("purgeAnyOf: two sub-threshold members must not pool their overlaps") {
    import spark.implicits._
    // eval shingles {abc, bcd, cde, def}; each member below shares ONE
    // eval shingle out of its own three (1/3 < 0.5). A verdict that
    // pooled the two members' overlaps under one (key, n_sh) group
    // would see 2/3 and wrongly purge.
    val evalDocs = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val triples = Seq(
      (1L, 0L, "s t", "a b c x y", "z w c d e")
    ).toDF("conv_id", "parent_id", "prompt", "chosen", "rejected")
    val clean = graft.operators.Dedup
      .purgeAnyOf(triples, evalDocs, Seq("conv_id", "parent_id"),
        Seq("prompt", "chosen", "rejected"), "text")
      .count()
    assert(clean == 1L, "sub-threshold members pooled into a false purge")
  }

  test("decontamPurge on the parity split equals the q129 oracle query") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaOp = graft.operators.Dedup
      .decontamPurge(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id",
        "text"
      )
      .select("doc_id", "n_sh", "n_overlap", "overlap_frac", "contaminated")
      .collect()
      .map(_.toSeq)
      .toSet
    val viaQuery = queries.TextQueries
      .q129DecontamPurge(spark, sf)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(viaOp == viaQuery, "the operational two-corpus form must equal the in-corpus demo")
    assert(viaOp.nonEmpty, "fixture should produce overlaps")
  }

  test("decontaminate CLI verb writes the report and the purged corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-decontam-cli").toString
    Seq((1L, "a b c d e"), (2L, "x y a b c"), (3L, "p q r s t"))
      .toDF("doc_id", "text").write.parquet(s"$root/train")
    Seq((100L, "a b c d")).toDF("doc_id", "text").write.parquet(s"$root/eval")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontaminate",
        "--train", s"$root/train",
        "--eval", s"$root/eval",
        "--out", s"$root/report",
        "--purged", s"$root/purged"
      ),
      spark
    )
    val report = spark.read.parquet(s"$root/report")
    assert(report.count() == 2L)
    assert(report.filter(col("contaminated")).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // purge drops ONLY the contaminated doc; the sub-threshold and clean docs survive
    val kept = spark.read.parquet(s"$root/purged").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("decontamFuzzy: attribution on a handcrafted train/eval fixture") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "a b c d e f g h i j"),
      (200L, "p q r s t u v w x y")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e f g h i j"), // identical: sig identical -> every band collides, J = 1.0
      (3L, "m n o k l z m n o k")  // disjoint from both eval docs -> absent
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .decontamFuzzy(train, evalDocs, "doc_id", "text")
      .collect()
      .map(r =>
        (r.getAs[Long]("doc_id"),
          (r.getAs[Long]("n_cand"), r.getAs[Long]("n_matched"),
            r.getAs[Double]("max_jaccard"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got.keySet == Set(1L), s"only the near-dup doc may collide: $got")
    assert(got(1L) == ((1L, 1L, 1.0, true)), "one attributed eval item, verified at J=1")
  }

  test("decontamFuzzy is dominated by decontamPurge at the same threshold") {
    // overlap_frac measures the train doc's shingles against the pooled
    // eval set, so it is >= any single-item whole-set Jaccard: every
    // fuzzy-contaminated doc must also be purge-contaminated. (The
    // converse is false — the purge cannot attribute and over-fires on
    // pool-assembled shingles — which is why both operators exist.)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tr = docs.filter(col("doc_id") % 10 =!= 0)
    val ev = docs.filter(col("doc_id") % 10 === 0)
    def flagged(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val fuzzy = flagged(graft.operators.Dedup.decontamFuzzy(tr, ev, "doc_id", "text"))
    val exact = flagged(graft.operators.Dedup.decontamPurge(tr, ev, "doc_id", "text"))
    assert(fuzzy.subsetOf(exact), s"fuzzy-only ids should be impossible: ${fuzzy diff exact}")
  }

  test("q133 query over the shared shingle table equals the raw-docs operator") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaOp = graft.operators.Dedup
      .decontamFuzzy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id",
        "text"
      )
      .collect()
      .map(_.toSeq)
      .toSet
    val viaQuery = queries.TextQueries
      .q133FuzzyDecontam(spark, sf)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(viaOp == viaQuery, "memoized shingle-table path must equal the self-contained operator")
  }

  test("decontamSemantic: best-match attribution, tie-break, and verdict on a handcrafted fixture") {
    import spark.implicits._
    val evalVecs = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (200L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),  // identical to eval 100 -> cos 1.0, contaminated
      (2L, Seq(0.6, 0.8, 0.0)),  // best is eval 200 at cos 0.8 -> reported, not contaminated at 0.9
      (3L, Seq(0.0, 0.0, 1.0))   // orthogonal to both -> cos 0.0, ties to the smaller eval id
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Dedup
      .decontamSemantic(train, evalVecs, "vec_id", "embedding", threshold = 0.9)
      .collect()
      .map(r =>
        (r.getAs[Long]("vec_id"),
          (r.getAs[Long]("best_eval_id"), r.getAs[Double]("best_cosine"),
            r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), "dense similarity reports every train vector")
    assert(got(1L) == ((100L, 1.0, true)))
    assert(got(2L)._1 == 200L && math.abs(got(2L)._2 - 0.8) < 1e-12 && !got(2L)._3)
    assert(got(3L) == ((100L, 0.0, false)), "all-equal cosines tie to the smallest eval id")
    // duplicate eval items: the argmax's strict > over ascending ids
    // keeps the smaller of two identical vectors
    val dupEval = Seq((100L, Seq(1.0, 0.0, 0.0)), (200L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val tied = graft.operators.Dedup
      .decontamSemantic(train.filter(col("vec_id") === 1L), dupEval, "vec_id", "embedding")
      .head()
    assert(tied.getAs[Long]("best_eval_id") == 100L)
    // zero-norm eval vectors are refused loudly (their cosine is NaN and never wins)
    val zero = Seq((100L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.operators.Dedup.decontamSemantic(train, zero, "vec_id", "embedding")
    )
    assert(e.getMessage.contains("zero-norm"))
  }

  test("decontamSemantic equals the broadcast-cross-join + max_by reference shape") {
    import org.apache.spark.sql.functions.{broadcast, max_by, sqrt, struct}
    val e = spark.read
      .parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb"))))
    val isEval = col("vec_id") % 10 === 0
    val viaOp = graft.operators.Dedup
      .decontamSemantic(
        e.filter(!isEval).select(col("vec_id"), col("emb").as("embedding")),
        e.filter(isEval).select(col("vec_id"), col("emb").as("embedding")),
        "vec_id",
        "embedding",
        threshold = 0.4
      )
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    val ref = e
      .filter(!isEval)
      .crossJoin(broadcast(
        e.filter(isEval)
          .select(col("vec_id").as("eval_id"), col("emb").as("ev_emb"), col("nrm").as("ev_nrm"))))
      .withColumn(
        "cosine",
        graft.functions.GraftFunctions.graft_dot(col("emb"), col("ev_emb")) / (col("nrm") * col("ev_nrm"))
      )
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("eval_id"), col("cosine")), struct(col("cosine"), -col("eval_id"))).as("m"))
      .collect()
      .map(r => {
        val m = r.getStruct(1)
        (r.getLong(0), (m.getLong(0), m.getDouble(1), m.getDouble(1) >= 0.4))
      })
      .toMap
    assert(viaOp == ref, "native argmax expression must equal the max_by reference decision-for-decision")
    assert(viaOp.nonEmpty)
  }

  test("decontam_semantic CLI verb writes the audit and the purged vectors") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-decontam-sem-cli").toString
    Seq((1L, Seq(1.0, 0.0, 0.0)), (3L, Seq(0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding").write.parquet(s"$root/train")
    Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding").write.parquet(s"$root/eval")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontam_semantic",
        "--train", s"$root/train",
        "--eval", s"$root/eval",
        "--out", s"$root/report",
        "--threshold", "0.9",
        "--purged", s"$root/purged"
      ),
      spark
    )
    val report = spark.read.parquet(s"$root/report")
    assert(report.count() == 2L, "the audit reports every train vector")
    assert(report.filter(col("contaminated")).select("vec_id").as[Long].collect().toSeq == Seq(1L))
    val kept = spark.read.parquet(s"$root/purged").select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L))
  }

  test("decontam_fuzzy CLI verb writes the attributed report and the purged corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-decontam-fuzzy-cli").toString
    Seq((1L, "a b c d e f g h i j"), (3L, "m n o k l z m n o k"))
      .toDF("doc_id", "text").write.parquet(s"$root/train")
    Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text").write.parquet(s"$root/eval")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "decontam_fuzzy",
        "--train", s"$root/train",
        "--eval", s"$root/eval",
        "--out", s"$root/report",
        "--purged", s"$root/purged"
      ),
      spark
    )
    val report = spark.read.parquet(s"$root/report")
    assert(report.count() == 1L)
    assert(report.filter(col("contaminated")).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val kept = spark.read.parquet(s"$root/purged").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L))
  }

  test("leakageFreeSplit: cluster-atomic, total, deterministic, threshold-exact") {
    import spark.implicits._
    val docs = (0L until 100L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L), (51L, 52L), (52L, 53L))
      .toDF("doc_a", "doc_b")
    val out = operators.Dedup
      .leakageFreeSplit(docs, pairs, "doc_id", heldoutPerMille = 300, seed = "s")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // Total: every doc exactly once.
    assert(out.size == 100)
    // Components: min id per cluster, own id for singletons.
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct == Seq(1L))
    assert(Seq(10L, 11L).map(out(_)._1).distinct == Seq(10L))
    assert(Seq(50L, 51L, 52L, 53L).map(out(_)._1).distinct == Seq(50L))
    assert(out(42L)._1 == 42L && out(0L)._1 == 0L)
    // The leakage-free guarantee: no pair straddles the boundary.
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 51L), (51L, 52L), (52L, 53L)).foreach {
      case (a, b) => assert(out(a)._2 == out(b)._2, s"pair ($a,$b) straddles the split")
    }
    // Deterministic under re-run.
    val again = operators.Dedup
      .leakageFreeSplit(docs, pairs, "doc_id", heldoutPerMille = 300, seed = "s")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(again == out)
    // Threshold extremes.
    val all0 = operators.Dedup
      .leakageFreeSplit(docs, pairs, "doc_id", heldoutPerMille = 0, seed = "s")
    assert(all0.filter(col("split") === "heldout").count() == 0L)
    val all1000 = operators.Dedup
      .leakageFreeSplit(docs, pairs, "doc_id", heldoutPerMille = 1000, seed = "s")
    assert(all1000.filter(col("split") === "train").count() == 0L)
  }

  test("leakage_split CLI verb writes the split table from docs + pairs parquet") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-split-cli").toString
    (0L until 50L).toDF("doc_id").write.parquet(s"$root/docs")
    Seq((5L, 6L), (6L, 7L), (20L, 21L)).toDF("doc_a", "doc_b").write.parquet(s"$root/pairs")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "leakage_split",
        "--docs", s"$root/docs",
        "--pairs", s"$root/pairs",
        "--heldout_per_mille", "200",
        "--seed", "cli",
        "--out", s"$root/split"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/split")
    assert(out.count() == 50L)
    val viaLib = operators.Dedup.leakageFreeSplit(
      (0L until 50L).toDF("doc_id"),
      Seq((5L, 6L), (6L, 7L), (20L, 21L)).toDF("doc_a", "doc_b"),
      "doc_id",
      heldoutPerMille = 200,
      seed = "cli"
    )
    assert(out.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet)
  }

  test("cluster_best CLI verb equals the library call") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-best-cli").toString
    val docs = Seq((0L, 10L), (1L, 30L), (2L, 20L), (5L, 7L), (6L, 7L), (9L, 1L))
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L))
    docs.toDF("doc_id", "score").write.parquet(s"$root/docs")
    pairs.toDF("doc_a", "doc_b").write.parquet(s"$root/pairs")
    graft.pipeline.PipelineRunner.run(
      Array(
        "--maintenance", "cluster_best",
        "--docs", s"$root/docs",
        "--pairs", s"$root/pairs",
        "--score_col", "score",
        "--out", s"$root/best"
      ),
      spark
    )
    val out = spark.read.parquet(s"$root/best")
    val viaLib = operators.Dedup.keepBestOfCluster(
      docs.toDF("doc_id", "score"),
      pairs.toDF("doc_a", "doc_b"),
      "doc_id",
      "score"
    )
    assert(out.collect().map(_.toSeq).toSet == viaLib.collect().map(_.toSeq).toSet)
  }

  test("keepBestOfCluster: exactly one keep per component — the argmax score, ties to the smaller id") {
    import spark.implicits._
    // Components under the pairs: {0,1,2} (chain), {5,6} (tie on
    // score), {9} singleton. Scores: 1 wins cluster 0 (highest), 5
    // wins the {5,6} tie (equal scores, smaller id), 9 trivially.
    val docs = Seq(
      (0L, 10L), (1L, 30L), (2L, 20L),
      (5L, 7L), (6L, 7L),
      (9L, 1L)
    ).toDF("doc_id", "score")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup
      .keepBestOfCluster(docs, pairs, "doc_id", "score")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L, 5L, 6L, 9L), "labeling is total")
    assert(got(0L)._1 == 0L && got(1L)._1 == 0L && got(2L)._1 == 0L)
    assert(got(5L)._1 == 5L && got(6L)._1 == 5L && got(9L)._1 == 9L)
    assert(got.filter(_._2._3).keySet == Set(1L, 5L, 9L), "survivors: argmax, tie->min id, singleton")
    // Contrast with the greedy rule: dropNearDups keeps 0 (the
    // smallest id of the chain), keepBestOfCluster keeps 1 (the best).
    val greedy = operators.Dedup
      .dropNearDups(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(greedy == Set(0L, 5L, 9L))
  }

  test("keepBestOfCluster: randomized — one survivor per component, each the brute-force argmax") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val n = 80
    val edges = Vector.fill(50) {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val scores = (0 until n).map(i => i.toLong -> rnd.nextInt(5).toLong).toMap
    val docs = scores.toSeq.toDF("doc_id", "score")
    val got = operators.Dedup
      .keepBestOfCluster(docs, edges.toDF("doc_a", "doc_b"), "doc_id", "score")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3)))
      .toMap
    // Reference components via union-find.
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    val byComp = (0 until n).groupBy(i => find(i))
    assert(got.size == n)
    for ((_, members) <- byComp) {
      val want = members.maxBy(i => (scores(i.toLong), -i)).toLong
      val keeps = members.filter(i => got(i.toLong)._2)
      assert(keeps.map(_.toLong) == Seq(want), s"component $members: keeps $keeps, want $want")
      assert(members.map(i => got(i.toLong)._1).distinct.size == 1, "members share the label")
    }
  }

  test("dupProfile: hand fixture histogram; singletons are size-1 clusters") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup
      .dupProfile(docs, pairs, "doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // clusters: {1,2,3} size 3; {10,11} size 2; 20, 21 singletons
    assert(got(3L) == ((1L, 3L, 1000000L * 3 / 7)))
    assert(got(2L) == ((1L, 2L, 1000000L * 2 / 7)))
    assert(got(1L) == ((2L, 2L, 1000000L * 2 / 7)))
    assert(got.keySet == Set(1L, 2L, 3L))
  }

  test("dupProfile: the histogram PARTITIONS the corpus on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(8181)
    val n = 300L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0 until 150)
      .map { _ =>
        val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
        (math.min(a, b), math.max(a, b))
      }
      .filter(p => p._1 != p._2)
      .distinct
      .toDF("doc_a", "doc_b")
    val rows = graft.operators.Dedup
      .dupProfile(docs, pairs, "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == n, "sum(n_docs) must equal |docs|")
    rows.foreach { case (k, nc, nd) => assert(nd == k * nc) }
  }
}
