package graft

import graft.queries.VectorQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SemDeDup cluster-size guard on a synthetic mega-cluster: one
  * embedding-collapsed cluster holds ~99% of the corpus (the skew that
  * degenerates Σ cluster² toward all-pairs at 100 TB). The guard must
  * (a) partition the corpus — no row lost or duplicated by blocking,
  * (b) cut the candidate-pair budget hard,
  * (c) only ever REMOVE candidate pairs (capped drops ⊆ uncapped drops),
  * (d) never lose an exact-duplicate pair — identical vectors have
  *     identical cosines to every sub-seed and identical tie-breaks,
  *     so they must co-assign.
  */
class ClusterGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-clusterguard-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val cap = 50

  /** Planted exact-duplicate pairs (smaller id, larger id). */
  private val dupPairs = Seq((10L, 910L), (23L, 923L), (57L, 957L))

  /** Corpus: centroids 0 (unit x) and 100 (unit y); every member sits
    * within 0.15 rad of unit x, so ALL of them assign to cluster 0 —
    * one mega-cluster of ~400 vectors plus a singleton cluster. Member
    * angles are spread deterministically so some pairs clear the 0.995
    * cosine bar (angle <= ~0.1 rad) and some don't. The modulus is
    * PRIME (997) so member angles are pairwise distinct — the planted
    * dupPairs are the only identical vectors, and the exact-dup
    * pre-pass collapses exactly those (the all-identical case has its
    * own test below).
    */
  private def corpus: DataFrame = {
    import spark.implicits._
    def vec(theta: Double): Seq[Double] =
      Seq(math.cos(theta), math.sin(theta), 0.0, 0.0)
    def theta(i: Long): Double = 0.15 * ((i * 37) % 997) / 997.0
    val members = (1L to 399L)
      .filterNot(_ % 100 == 0)
      .map(i => (i, vec(theta(i))))
    val dups = dupPairs.map { case (a, b) => (b, vec(theta(a))) }
    val cents = Seq((0L, vec(0.0)), (100L, Seq(0.0, 1.0, 0.0, 0.0)))
    (members ++ dups ++ cents)
      .toDF("vec_id", "emb")
      .withColumn(
        "nrm",
        sqrt(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb")))
      )
  }

  test("blocking is a partition: every vector appears exactly once, split clusters shrink") {
    val e = corpus
    val n = e.count()
    val blocks = VectorQueries.semanticBlocksOn(e, cap).cache()
    assert(blocks.count() == n, "one block row per input vector")
    assert(blocks.select("vec_id").distinct().count() == n, "no vector duplicated across blocks")
    val byBlock = blocks.groupBy("cluster", "sub").agg(count(lit(1)).as("b"))
    val byCluster = blocks.groupBy("cluster").agg(count(lit(1)).as("cn"))
    val worst = byBlock
      .join(byCluster, Seq("cluster"))
      .filter(col("cn") > cap)
      .agg(max(col("b") / col("cn")))
      .collect()(0)
      .getDouble(0)
    assert(worst < 1.0, s"every oversized cluster must actually split, worst block fraction $worst")
  }

  /** Candidate pairs over the rows that actually enter the pair join —
    * representatives only, the exact input of semanticDedupCappedOn.
    */
  private def pairs(df: DataFrame, keys: String*): Long = df
    .filter(col("vec_id") === col("rep_id"))
    .groupBy(keys.map(col): _*)
    .agg(count(lit(1)).as("n"))
    .agg(sum(expr("n * (n - 1) div 2")))
    .collect()(0)
    .getLong(0)

  test("the candidate-pair budget drops by at least half on the mega-cluster") {
    val e = corpus
    val blocks = VectorQueries.semanticBlocksOn(e, cap)
    val capped = pairs(blocks, "cluster", "sub")
    val uncapped = pairs(blocks, "cluster")
    assert(
      capped * 2 <= uncapped,
      s"guarded pairing must at least halve the budget: $capped vs $uncapped"
    )
  }

  test("total embedding collapse: identical vectors reduce to one representative, not one n² block") {
    import spark.implicits._
    // The adversarial case the guard exists for: a mega-cluster whose
    // vectors are IDENTICAL. Cosine to every sub-seed is 1.0, every
    // tie-break picks the same seed — without the exact-dup pre-pass the
    // whole mass lands in ONE sub-block and Σ block² is n² again.
    val collapsed = (0L to 399L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0)))
    val other = Seq((100L, Seq(0.0, 1.0, 0.0, 0.0))) // second centroid, distinct
    val e = (collapsed.filterNot(_._1 == 100L) ++ other)
      .toDF("vec_id", "emb")
      .withColumn(
        "nrm",
        sqrt(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb")))
      )
    val n = e.count()
    val blocks = VectorQueries.semanticBlocksOn(e, cap).cache()
    assert(blocks.count() == n, "blocking still partitions the corpus")
    val candidatePairs = pairs(blocks, "cluster", "sub")
    assert(
      candidatePairs <= n * cap,
      s"collapse must not regenerate n² pairing: $candidatePairs > ${n * cap}"
    )
    // 399 identical vectors -> 1 representative -> zero intra-block pairs.
    assert(candidatePairs == 0, s"identical group must collapse to one rep, got $candidatePairs pairs")
    val kept = VectorQueries.semanticDedupCappedOn(e, cap)
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept == Set(0L, 100L), s"only the min-id representative of each point survives: $kept")
    blocks.unpersist()
  }

  test("capped drops are a subset of uncapped drops — blocking only removes candidates") {
    val e = corpus
    val keptUncapped = VectorQueries.semanticDedupOn(e).select("vec_id")
    val keptCapped = VectorQueries.semanticDedupCappedOn(e, cap).select("vec_id")
    // drops_capped ⊆ drops_uncapped  ⟺  kept_uncapped ⊆ kept_capped
    val lost = keptUncapped.join(keptCapped, Seq("vec_id"), "left_anti").count()
    assert(lost == 0, s"$lost vectors kept by the exact pass were dropped by the guarded pass")
  }

  test("exact-duplicate pairs co-assign and their larger id is always dropped") {
    val e = corpus
    val blocks = VectorQueries.semanticBlocksOn(e, cap)
      .select("vec_id", "cluster", "sub")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    dupPairs.foreach { case (a, b) =>
      assert(blocks(a) == blocks(b), s"exact duplicates $a/$b must land in the same block")
    }
    val kept = VectorQueries.semanticDedupCappedOn(e, cap)
      .select("vec_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    dupPairs.foreach { case (_, b) =>
      assert(!kept.contains(b), s"duplicate $b must be dropped by the guarded pass")
    }
  }
}
