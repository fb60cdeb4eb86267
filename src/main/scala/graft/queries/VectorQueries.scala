package graft.queries

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Determinism: float32 → float64 widening is exact; products of two
  * such doubles are exact (24-bit significands); sums use a sequential
  * left fold (`aggregate` ↔ DuckDB `list_reduce`) so both engines add in
  * the same order with the same IEEE semantics — cosine scores are
  * bit-identical and safe to order/compare on.
  *
  * Scale posture: norms are computed once per vector, not per pair.
  * Brute force broadcasts the (few) query vectors and scans candidates
  * once — linear, no shuffle. The IVF variant is the 100 TB path:
  * cluster assignment is a broadcast argmin over centroids, then search
  * touches only the probe cluster; both stages stay fully distributed.
  */
object VectorQueries {

  /** Sequential-fold dot product — the native codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical to the
    * interpreted `aggregate(zip_with(...))` HOF form it replaces).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_dot(a, b)

  /** Embeddings with the L2 norm precomputed per vector. */
  private def emb(spark: SparkSession, dir: String): DataFrame = {
    Parquet.read(spark, s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
  }

  /** Brute-force cosine top-10 for query vectors (vec_id < 5): the
    * exactness baseline every ANN variant is judged against.
    */
  def q24KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    broadcast(q)
      .join(e.filter(col("vec_id") >= 5), expr("true"), "cross")
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "vec_id", "rank", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs, blocked by label (the
    * blocking key stands in for an LSH bucket: only intra-block pairs
    * are scored, never a global cross join).
    */
  def q25NearDupCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= 0.30)
      .select("label", "id_a", "id_b", "cosine")
  }

  /** Per-label centroid of the embedding vectors, via posexplode +
    * integer-scaled exact sums (sum(floor(v·2^30)) is order-independent;
    * the final division has exact operands — deterministic under any
    * partitioning, mirrored by the oracle).
    */
  def q31LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        (sum(floor(col("v") * 1073741824L)).cast("double") / (count(lit(1)) * lit(1073741824.0)))
          .as("centroid"),
        count(lit(1)).as("n")
      )

  /** Deterministic Rademacher hyperplanes for the RH-LSH variant: sign
    * of plane (j, d) = parity of the 28-bit md5 int of "j_d" — the same
    * construction the DuckDB oracle evaluates in SQL, so both engines
    * hold the identical plane matrix. Computed once driver-side and
    * shipped as a literal (it is data-independent).
    */
  private lazy val rhPlanes: Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h28(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 7), 16)
    }
    (0 until 6).map { j =>
      (0 until 64).map { d => if (h28(s"${j}_${d}") % 2 == 1) 1.0 else -1.0 }
    }
  }

  /** Random-hyperplane (SimHash-for-cosine) LSH ANN: bucket = 6 sign
    * bits of plane projections; queries search only their bucket. The
    * LSH counterpart to the IVF variant below — candidate volume drops
    * to the bucket's occupancy (~N/64 for random data; planes are
    * data-independent so no training pass).
    */
  def q35RhLshAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val planesLit = typedLit(rhPlanes)
    val bucket = aggregate(
      transform(
        sequence(lit(0), lit(5)),
        j =>
          when(dot(col("emb"), element_at(planesLit, (j + 1).cast("int"))) > 0,
            pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
      ),
      lit(0L),
      (acc, v) => acc + v
    )
    val withBucket = e.withColumn("bucket", bucket)
    val q = withBucket
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("bucket"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    q.join(withBucket.filter(col("vec_id") >= 5), Seq("bucket"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select("query_id", "bucket", "vec_id", "rank", "cosine")
  }

  /** Int8 scalar quantization of the embedding column (the standard
    * 4× storage shrink for ANN indexes): per-vector min/max range,
    * `q = min(floor((v−mn)·255/span), 255)`, plus a reconstruction-error
    * audit. Exactness: quantized codes are integer results of floor on
    * IEEE expressions both engines evaluate in the same op order, so
    * `q_checksum` (sequential integer fold) is exact; the error fold is
    * the same sequential-double pattern as the cosine scores. Pure
    * per-row projection — zero shuffle at any scale.
    */
  def q43Quantize(spark: SparkSession, dir: String): DataFrame =
    // One compiled two-pass loop per row ([[graft.functions.Quantize]]):
    // the HOF formulation re-evaluated array_min/array_max inside every
    // lambda element reference (optimizer inlining), interpreted.
    emb(spark, dir)
      .select(
        col("vec_id"),
        graft.functions.GraftFunctions.graft_quantize(col("emb")).as("q")
      )
      .select(
        col("vec_id"),
        col("q.q_min").as("q_min"),
        col("q.q_max").as("q_max"),
        col("q.q_checksum").as("q_checksum"),
        col("q.mean_abs_err").as("mean_abs_err")
      )

  /** Distributed k-means (2 Lloyd iterations, K=4) — the clustering
    * pass semantic dedup and IVF index training build on. Every stage
    * is the at-scale shape: centroids live in a K-row broadcast (never
    * more driver state than K×d); assignment is a broadcast cross join
    * collapsed by `min_by` partial aggregation BEFORE its shuffle (the
    * q26 pattern — a window here would shuffle N×K wide rows); the
    * centroid update is one keyed agg over posexploded dims.
    *
    * Cross-engine determinism: squared-L2 via the sequential
    * zip-with/fold both engines evaluate identically; centroid means
    * use integer-scaled exact sums (`sum(floor(v·2^20))` is
    * order-independent, the final division has exact operands — the
    * q31 construction), so iteration-2 assignments are bit-stable under
    * any partitioning and the oracle can replay both iterations in SQL.
    */
  def q58KMeans(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val scale = 1048576L // 2^20: float24-bit mantissa × 2^20 stays exact
    val e = emb(spark, dir).select(col("vec_id"), col("emb"))

    // Native codegen'd squared-L2 ([[graft.functions.SquaredL2]]) —
    // bit-identical to the `aggregate(zip_with(...))` fold it replaces
    // (DotProductSpec), compiled instead of interpreted.
    def sqDist(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.graft_l2(a, b)

    val c0 = e.filter(col("vec_id") < k).select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"))
    val a1 = e
      .join(broadcast(c0), expr("true"), "cross")
      .withColumn("dist", sqDist(col("emb"), col("cent_emb")))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cent_id"), struct(col("dist"), col("cent_id"))).as("cluster"),
        first(col("emb")).as("emb")
      )
    val c1 = a1
      .select(col("cluster"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(floor(col("v") * scale)).cast("long").as("s"), count(lit(1)).as("n"))
      .withColumn("cv", col("s").cast("double") / (col("n") * lit(scale.toDouble)))
      .groupBy(col("cluster"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cv")))), s => s.getField("cv"))
          .as("cent_emb")
      )
      .select(col("cluster").as("cent_id"), col("cent_emb"))
    a1.join(broadcast(c1), expr("true"), "cross")
      .withColumn("dist", sqDist(col("emb"), col("cent_emb")))
      .groupBy(col("vec_id"))
      .agg(
        first(col("cluster")).as("cluster_iter1"),
        min_by(col("cent_id"), struct(col("dist"), col("cent_id"))).as("cluster_iter2")
      )
      .select(col("vec_id"), col("cluster_iter1"), col("cluster_iter2"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space coarsely (the q26 IVF assignment — broadcast
    * argmax, `max_by` partial agg), then inside each cluster drop the
    * larger-id vector of every pair with cosine ≥ 0.995. Pairing is
    * blocked BY CLUSTER — the published trick that makes embedding
    * dedup feasible at corpus scale: candidate volume is Σ cluster², a
    * K-th of the all-pairs cross join, and each cluster's pairs
    * co-locate under one join key. Output: the kept vectors with their
    * cluster (the deduplicated corpus manifest).
    */
  def q79SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupOn(emb(spark, dir))

  /** Uncapped SemDeDup over a `(vec_id, emb, nrm)` frame — q79's exact
    * semantics, parameterized for ClusterGuardSpec's capped-vs-uncapped
    * containment proof.
    */
  def semanticDedupOn(e: DataFrame): DataFrame = {
    val assigned = coarseAssign(e)
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val drops = a
      .join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) >= 0.995
      )
      .select(col("id_b").as("vec_id"))
      .distinct()
    assigned
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** The q79/q26 coarse IVF assignment over a `(vec_id, emb, nrm)`
    * frame: nearest of the deterministic centroids (vec_id % 100 == 0)
    * by cosine, ties toward the smaller cent_id, as a `max_by` partial
    * aggregate.
    */
  private def coarseAssign(e: DataFrame): DataFrame = {
    val cent = e
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"), col("nrm").as("cent_nrm"))
    e.join(broadcast(cent), expr("true"), "cross")
      .withColumn("c_cos", dot(col("emb"), col("cent_emb")) / (col("nrm") * col("cent_nrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("c_cos"), -col("cent_id"))).as("cluster"),
        first(col("emb")).as("emb"),
        first(col("nrm")).as("nrm")
      )
  }

  /** Cluster-size guard for semantic dedup — the q21 df-cap escalation,
    * vector edition. Within-cluster pairing is Σ cluster², so one skewed
    * mega-cluster (embedding collapse, boilerplate) degenerates toward
    * all-pairs. Two layers:
    *
    * 1. **Exact-duplicate pre-pass.** Identical embeddings are grouped
    *    by the full vector value (exact — no hash-collision risk) and
    *    reduced to their smallest-id REPRESENTATIVE before any seeding.
    *    This is what makes the guard robust to total embedding collapse:
    *    without it, identical vectors have cosine 1.0 to EVERY sub-seed,
    *    every tie-break picks the same seed, and the whole mass lands in
    *    one sub-block — Σ block² degenerates to n² exactly in the
    *    scenario the guard exists for. With it, an n-member identical
    *    group contributes ONE row to seeding and pairing (its members
    *    are trivial ≥0.995 drops — cosine is exactly 1.0 — handled
    *    directly by [[semanticDedupCappedOn]]). O(n) groupBy with
    *    map-side combine; the join-back ships only the rep_id.
    *
    * 2. **Hash-sampled sub-seeding with a guaranteed seed count.**
    *    Representative clusters larger than `cap` are re-blocked one
    *    level down. Seed selection is two-stage so the seed COUNT is
    *    deterministic, not merely expected: a hash-sampled candidate
    *    pool (`h28(vec_id) % candStride == 0`, candStride sized for an
    *    expected 4·ceil(n/cap) candidates, plus the cluster's own
    *    centroid), then a rank window per cluster keeps exactly the
    *    ceil(n/cap) candidates with the smallest `(h28, vec_id)`. A
    *    bare expected-spacing rule misses ALL samples with probability
    *    ≈ e^(−n_sub) — over 13% for a cluster that needs only a 2-way
    *    split — leaving the centroid as the lone seed and the cluster
    *    unsplit; the candidate window closes that hole, and it only
    *    ever sorts the O(n/cap) candidate rows per cluster, never the
    *    cluster itself. Members re-assign to their nearest seed by
    *    cosine (the same `max_by` argmax as the coarse pass). Small
    *    clusters keep `sub = -1`; the (now astronomically rare)
    *    seedless block falls back to `sub = -2` (full within-cluster
    *    pairing, correctness before budget).
    *
    * Cost honesty at 100 TB: the seed volume is Σ ceil(n/cap) — LINEAR
    * in the distinct-embedding count, not bounded by a constant like the
    * coarse pass's K — and the re-assignment argmax inside one oversized
    * cluster is n·ceil(n/cap) ≈ n²/cap: still quadratic in the cluster,
    * just a cap-fold smaller constant (the PAIRING budget after
    * re-blocking is the N·cap bound; the re-blocking itself is the
    * n²/cap step). Both joins are therefore keyed equi joins on
    * `cluster` with NO forced broadcast — AQE broadcasts when the seed
    * side is actually small and falls back to a co-located shuffle join
    * when it isn't, so an adversarial corpus cannot OOM the driver. For
    * clusters so large that even n²/cap is unacceptable, recurse (apply
    * the guard again with the sub as the cluster) or train a proper
    * quantizer ([[graft.operators.VectorIndex.kmeansMedoids]]).
    *
    * Recall contract (ClusterGuardSpec): blocking only REMOVES candidate
    * pairs, so capped drops ⊆ uncapped drops; exact-duplicate vectors
    * collapse to one representative, so exact-dup pairs are never lost.
    * A near-identical (≥0.995) pair can split across sub-seeds near a
    * decision boundary — the standard SemDeDup recall/budget trade.
    *
    * Returns `(vec_id, cluster, sub, emb, nrm, rep_id)` — one row per
    * input vector (blocking is a partition of the corpus,
    * ClusterGuardSpec); non-representatives inherit their
    * representative's block so exact duplicates always co-assign.
    */
  def semanticBlocksOn(e: DataFrame, cap: Int): DataFrame = {
    require(cap > 1, s"cap must exceed 1, got $cap")
    // Exact-dup pre-pass: representative = min vec_id per identical
    // embedding, as an unordered window over the full vector value
    // (exact — no hash-collision risk). ONE corpus shuffle, no
    // join-back: a groupBy+join formulation costs two more full-width
    // exchanges (measured 3x on q95). An identical group co-locates on
    // one task either way (any equi operator on emb must); the window
    // streams it with spill, O(group) not O(group²).
    val wRep = Window.partitionBy(col("emb"))
    val withRep = e.withColumn("rep_id", min(col("vec_id")).over(wRep))
    val repRows = withRep
      .filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("emb"), col("nrm"))
    val assigned = coarseAssign(repRows)
    // Cluster sizes (over representatives), wanted sub-block count, and
    // the hash-sampling stride — pure integer arithmetic (div, not /:
    // no double rounding).
    val sizes = assigned
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_sub", expr(s"(n + ${cap - 1}) div $cap"))
      .withColumn("cand_stride", greatest(expr("n div n_sub div 4"), lit(1L)))
    val withSize = assigned.join(sizes, Seq("cluster"))
    val small = withSize
      .filter(col("n") <= cap)
      .select(col("vec_id"), col("cluster"), lit(-1L).as("sub"), col("emb"), col("nrm"))
    val big = withSize.filter(col("n") > cap)
    val h28 = conv(substring(md5(col("vec_id").cast("string")), 1, 7), 16, 10).cast("long")
    // Candidate pool (expected 4·n_sub rows per cluster) → rank window
    // keeps exactly n_sub seeds. The window's input is the PRUNED pool,
    // so the per-cluster sort is over O(n/cap) rows, not the cluster.
    val wSeed = Window.partitionBy(col("cluster")).orderBy(col("__h"), col("vec_id"))
    val seeds = big
      .withColumn("__h", h28)
      .filter(pmod(col("__h"), col("cand_stride")) === 0 || col("vec_id") === col("cluster"))
      .withColumn("__srk", row_number().over(wSeed))
      .filter(col("__srk") <= col("n_sub"))
      .select(col("cluster"), col("vec_id").as("seed_id"), col("emb").as("seed_emb"), col("nrm").as("seed_nrm"))
    // Left join: a member with no seed row (possible only if the
    // cluster's centroid landed elsewhere under an exact-duplicate tie
    // AND every hash sample missed) must survive with a fallback block,
    // never vanish through an inner join.
    val sub = big
      .join(seeds, Seq("cluster"), "left")
      .withColumn("s_cos", dot(col("emb"), col("seed_emb")) / (col("nrm") * col("seed_nrm")))
      .groupBy(col("vec_id"))
      .agg(
        first(col("cluster")).as("cluster"),
        max_by(col("seed_id"), struct(col("s_cos"), -col("seed_id"))).as("sub0"),
        first(col("emb")).as("emb"),
        first(col("nrm")).as("nrm")
      )
      .select(col("vec_id"), col("cluster"), coalesce(col("sub0"), lit(-2L)).as("sub"), col("emb"), col("nrm"))
    val blockedReps = sub.unionByName(small).withColumn("rep_id", col("vec_id"))
    // Non-representatives inherit their representative's block: exact
    // duplicates co-assign by construction (they ARE the same point).
    val nonReps = withRep
      .filter(col("vec_id") =!= col("rep_id"))
      .select(col("vec_id"), col("rep_id"), col("emb"), col("nrm"))
      .join(
        blockedReps.select(col("vec_id").as("rep_id"), col("cluster"), col("sub")),
        Seq("rep_id")
      )
      .select(col("vec_id"), col("cluster"), col("sub"), col("emb"), col("nrm"), col("rep_id"))
    blockedReps.unionByName(nonReps)
  }

  /** Semantic dedup with the cluster-size guard: q79's drop rule, but
    * pairs are generated within `(cluster, sub)` blocks over
    * REPRESENTATIVES only, so the candidate volume is Σ block² ≲ N·cap
    * instead of Σ cluster² — and an identical-embedding group of any
    * size contributes one candidate row, not n². Non-representatives
    * drop directly: each is identical to its smaller-id representative
    * (cosine exactly 1.0 ≥ 0.995), so the pair verdict needs no join.
    */
  def semanticDedupCappedOn(e: DataFrame, cap: Int): DataFrame = {
    // The blocked table is consumed three times (both pair-join sides
    // and the kept-set base); without a barrier each consumer re-runs
    // the full blocking chain (rep window + coarse assign + seeding —
    // measured ~2x on q95). localCheckpoint is the single-node analog
    // of persisting the blocked table to durable storage, which is what
    // a 100 TB run would do between the blocking and pairing stages.
    val blocked = semanticBlocksOn(e, cap).localCheckpoint()
    val repRows = blocked.filter(col("vec_id") === col("rep_id"))
    val a = repRows.select(col("cluster"), col("sub"), col("vec_id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = repRows.select(col("cluster"), col("sub"), col("vec_id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val drops = a
      .join(b, Seq("cluster", "sub"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")) >= 0.995
      )
      .select(col("id_b").as("vec_id"))
      .distinct()
    // Kept set = representatives minus pair drops (every
    // non-representative is an exact dup of a smaller id and drops).
    repRows
      .join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"), col("sub"))
  }

  /** q79 under a cap that splits every cluster at this corpus (~100
    * members per cluster, cap 40 → 3 sub-blocks each) — the guarded
    * path is oracle-checked end to end, not just spec'd on synthetic
    * data.
    */
  def q95SemanticDedupCapped(spark: SparkSession, dir: String): DataFrame =
    semanticDedupCappedOn(emb(spark, dir), 40)

  /** The persistent IVF index exercised END-TO-END as an oracle query:
    * [[graft.operators.VectorIndex.build]] writes centroids plus
    * cluster-partitioned assignments to scratch parquet,
    * [[graft.operators.VectorIndex.query]] probes the nearest cluster
    * per query vector through the partition-pruned scan, and the
    * bounded result (|queries| × topK = 50 rows) is materialized before
    * the scratch dir is deleted (the q89 scratch-state pattern). The
    * oracle replays the same assignment + probe rule in SQL, so this
    * green row checks the DURABLE path — parquet round-trip (float →
    * double widening is exact, so cosines are bit-stable across the
    * write/read), typed partition pruning, frozen-centroid probe — not
    * just an in-memory plan. Probe rule parity: with nProbe = 1 and the
    * query present in the index, the probed cluster is the query's own
    * assignment (both are the argmax-cosine centroid, ties toward the
    * smaller cent_id), and candidates exclude only the query itself.
    */
  def q96IvfIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Parquet.read(spark, s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val root = java.nio.file.Files.createTempDirectory("graft-q96")
    val rows =
      try {
        val idxPath = root.resolve("ivf").toString
        graft.operators.VectorIndex.build(spark, vectors, idxPath, col("vec_id") % 100 === 0)
        graft.operators.VectorIndex
          .query(spark, vectors.filter(col("vec_id") < 5), idxPath, topK = 10, nProbe = 1)
          .select(col("query_id"), col("cluster"), col("vec_id"), col("rank"), col("cosine"))
          .collect()
          .toIndexedSeq
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toDF("query_id", "cluster", "vec_id", "rank", "cosine")
  }

  /** Streaming SEMANTIC dedup ingest exercised END-TO-END as an oracle
    * query — the q96 scratch-state pattern applied to
    * [[graft.streaming.StreamingPipeline.semanticDedupIngestBatch]]:
    * build a scratch IVF index from the `vec_id % 5 <= 2` slice of the
    * corpus (id-rule centroids, the q26/q96 quantizer), ingest the
    * `% 5 == 3` slice as batch 0 and the `% 5 == 4` slice as batch 1,
    * and return the drops telemetry of both batches. Batch 1 probes the
    * POST-batch-0 index, so the oracle replays the full sequential
    * contract: assignment to frozen centroids, cluster-blocked probe
    * against the index as of each batch, strongest-neighbor `dup_of`
    * (ties toward the smaller id), the greedy smaller-id within-batch
    * rule, and survivors joining the index between batches. minCos 0.35
    * sits inside the fixture's cosine distribution (max pairwise 0.513)
    * so both batches produce index drops AND within-batch drops, and
    * several batch-1 `dup_of`s point at batch-0 SURVIVORS — the
    * cross-batch property that distinguishes ingest dedup from one-shot
    * SemDeDup. The result is bounded (53 drop rows at sf0.01); the
    * scratch dirs are deleted after materialization.
    */
  def q97SemanticDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Parquet.read(spark, s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val root = java.nio.file.Files.createTempDirectory("graft-q97")
    val rows =
      try {
        val idxPath = root.resolve("ivf").toString
        val dropsPath = root.resolve("drops").toString
        graft.operators.VectorIndex
          .build(spark, vectors.filter(col("vec_id") % 5 <= 2), idxPath, col("vec_id") % 100 === 0)
        graft.streaming.StreamingPipeline
          .semanticDedupIngestBatch(spark, vectors.filter(col("vec_id") % 5 === 3), idxPath, dropsPath, 0L, minCos = 0.35)
        graft.streaming.StreamingPipeline
          .semanticDedupIngestBatch(spark, vectors.filter(col("vec_id") % 5 === 4), idxPath, dropsPath, 1L, minCos = 0.35)
        Parquet.read(spark, dropsPath)
          .select(col("ingest_batch").cast("long").as("ingest_batch"), col("vec_id"), col("dup_of"), col("cosine"))
          .collect()
          .toIndexedSeq
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toDF("ingest_batch", "vec_id", "dup_of", "cosine")
  }

  /** Semi-hard negative mining for contrastive training (the FaceNet
    * selection rule, Schroff et al. 2015, in cosine space): for each
    * anchor (vec_id < 5), find its HARDEST POSITIVE — the same-label
    * candidate with the minimum cosine, i.e. the pair a metric-learning
    * loss struggles most to pull together — then emit the top-5
    * different-label candidates inside the semi-hard band
    * `pos_cos - 0.1 <= cos < pos_cos`: negatives currently ranked
    * correctly but within the margin, the ones that actually produce
    * gradient. Scale shape: one broadcast of the (few) anchors over a
    * single candidate scan (the q24 pattern), the hardest-positive
    * aggregate is a min_by partial agg (no window over the scored
    * relation), and the band filter prunes before the per-anchor top-k
    * window. All cosine arithmetic is the bit-deterministic sequential
    * fold; the margin subtraction is one IEEE op mirrored by the oracle.
    */
  def q98SemiHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = broadcast(q)
      .join(e.filter(col("vec_id") >= 5), expr("true"), "cross")
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
    val hardestPos = scored
      .filter(col("label") === col("q_label"))
      .groupBy(col("query_id"))
      .agg(
        min_by(col("vec_id"), struct(col("cosine"), col("vec_id"))).as("pos_id"),
        min(col("cosine")).as("pos_cos")
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .filter(col("label") =!= col("q_label"))
      .join(broadcast(hardestPos), Seq("query_id"))
      .filter(col("cosine") < col("pos_cos") && col("cosine") >= col("pos_cos") - lit(0.1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(
        col("query_id"),
        col("pos_id"),
        col("pos_cos"),
        col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        col("rank"),
        col("cosine").as("neg_cos")
      )
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    * fuse the BM25 top-20 for the fixed term query (exactly
    * [[graft.queries.TextQueries.q82Bm25]]'s scoring — embeddings row i
    * is the embedding of document i) with the cosine top-20 for query
    * vector 0, by `rrf = Σ 1/(60 + rank)` over the lists a document
    * appears in. The standard lexical+semantic serving pattern, and the
    * retrieval twin of the recall harness q85. Scale shape: each side's
    * top-k is an `orderBy().limit()` — TakeOrderedAndProject, never a
    * global window over the corpus-sized score relation; ranks are then
    * assigned on the ≤20-row results and fused with a full-outer join
    * over ≤40 rows. RRF doubles are deterministic: 1/(60+r) divides
    * exact integer operands, and the two list terms add in a fixed
    * order, mirrored by the oracle.
    */
  def q99HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val wT = Window.orderBy(col("bm25").desc, col("doc_id").asc)
    val textTop = TextQueries
      .q82Bm25(spark, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("t_rank", row_number().over(wT))
      .select(col("doc_id"), col("t_rank"))
    val e = emb(spark, dir)
    val qv = e
      .filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val wV = Window.orderBy(col("cosine").desc, col("doc_id").asc)
    val vecTop = e
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .select(col("vec_id").as("doc_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
      .limit(20)
      .withColumn("v_rank", row_number().over(wV))
      .select(col("doc_id"), col("v_rank"))
    val wF = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    textTop
      .join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn(
        "rrf",
        coalesce(lit(1.0) / (lit(60) + col("t_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("v_rank")), lit(0.0))
      )
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 10)
      .select(col("doc_id"), col("t_rank"), col("v_rank"), col("rrf"), col("rank"))
  }

  /** Label-noise mining (confident-learning-style, cf. Northcutt et al.
    * 2021): per label, the 5 members LEAST similar to their own label
    * centroid — the mislabel/outlier candidates a curation pass sends
    * to review — each annotated with the label whose centroid it is
    * actually closest to (`alt_label`). Centroids are the q31
    * integer-scaled exact means (order-independent long sums, so the
    * centroid doubles are bit-identical across engines and
    * partitionings), assembled per label into an array; cosines are the
    * sequential-fold dot against a 10-row broadcast. Scale shape: one
    * posexplode aggregate for the centroids (rows = labels × dims), one
    * corpus scan scored against the broadcast centroid table with the
    * alt-label argmax as a max_by partial aggregate, and the per-label
    * bottom-5 as a WindowGroupLimit-eligible ranking window.
    */
  def q100LabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = e
      .select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        (sum(floor(col("v") * 1073741824L)).cast("double") / (count(lit(1)) * lit(1073741824.0)))
          .as("cv")
      )
      .groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cv")))), s => s.getField("cv"))
          .as("cent")
      )
      .select(col("label").as("c_label"), col("cent"), sqrt(dot(col("cent"), col("cent"))).as("c_nrm"))
    val scored = e
      .join(broadcast(cents), expr("true"), "cross")
      .withColumn("c_cos", dot(col("emb"), col("cent")) / (col("nrm") * col("c_nrm")))
    val self = scored
      .filter(col("label") === col("c_label"))
      .select(col("vec_id"), col("label"), col("c_cos").as("cos_self"))
    val alt = scored
      .filter(col("label") =!= col("c_label"))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("c_label"), struct(col("c_cos"), -col("c_label"))).as("alt_label"),
        max(col("c_cos")).as("cos_alt")
      )
    val w = Window.partitionBy(col("label")).orderBy(col("cos_self").asc, col("vec_id").asc)
    self
      .join(alt, Seq("vec_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("label"), col("vec_id"), col("rank"), col("cos_self"), col("alt_label"), col("cos_alt"))
  }

  /** Product quantization codes: the 64-dim vector splits into 4
    * subspaces of 16 dims; each subvector is assigned to the nearest of
    * 4 seed sub-centroids (vec_id < 4) by squared L2, ties toward the
    * smaller centroid id. Output is 4 small codes per vector — the
    * 64-double → 4-byte compression a 100 TB ANN index stores instead
    * of raw embeddings. One broadcast cross join against the 4 seed
    * rows, then a `min_by` partial aggregate per subspace (the q26
    * agg-before-shuffle shape: N×4 collapses to N map-side). Distances
    * are the codegen'd sequential-fold [[graft.functions.SquaredL2]] —
    * bit-identical to the oracle's list_reduce fold.
    */
  def q76PqCodes(spark: SparkSession, dir: String): DataFrame = {
    val nSub = 4
    val subDim = 16
    def sqDist(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.graft_l2(a, b)
    val e = emb(spark, dir).select(col("vec_id"), col("emb"))
    val cents = e
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"))
    val joined = e.join(broadcast(cents), expr("true"), "cross")
    val withD = (0 until nSub).foldLeft(joined) { (df, s) =>
      df.withColumn(
        s"d$s",
        sqDist(
          slice(col("emb"), s * subDim + 1, subDim),
          slice(col("cemb"), s * subDim + 1, subDim)
        )
      )
    }
    val codeAggs = (0 until nSub).map { s =>
      min_by(col("cent_id"), struct(col(s"d$s"), col("cent_id"))).as(s"code$s")
    }
    withD
      .groupBy(col("vec_id"))
      .agg(codeAggs.head, codeAggs.tail: _*)
      .select(col("vec_id") +: (0 until nSub).map(s => col(s"code$s")): _*)
  }

  /** IVF-style ANN: deterministic "centroids" (vec_id % 100 == 0),
    * assign all vectors to their nearest centroid (broadcast argmin),
    * then answer each query (vec_id < 5) from its probe cluster only.
    */
  def q26IvfAnn(spark: SparkSession, dir: String): DataFrame =
    ivfAnn(spark, dir, 5)

  /** ANN quality evaluation: recall@10 of the IVF probe against the
    * exact brute-force top-10, per query — the harness that justifies
    * an approximate index before it replaces the exact path. Hits are
    * counted with an integer 0/1 sum (order-independent); recall is
    * one exact division.
    */
  def q85AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = q24KnnBrute(spark, dir).select(col("query_id"), col("vec_id"))
    val approx = ivfAnn(spark, dir, 10).select(col("query_id"), col("vec_id"))
    brute
      .join(approx.withColumn("hit", lit(1L)), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_at_10", col("n_hits").cast("double") / 10)
  }

  private def ivfAnn(spark: SparkSession, dir: String, topK: Int): DataFrame = {
    val e = emb(spark, dir)
    val cent = e
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"), col("nrm").as("cent_nrm"))
    // Assignment is an AGGREGATION, not a window: a row_number over
    // `partition by vec_id` on the post-cross-join relation would
    // shuffle N×K rows each carrying the 64-double vector. max_by with
    // partial (map-side) aggregation collapses to N rows BEFORE the
    // shuffle; the struct ordering key (c_cos desc ⇒ max, then
    // -cent_id ⇒ smallest cent_id) reproduces the deterministic
    // argmax-with-tiebreak the oracle's row_number expresses.
    val assigned = e
      .join(broadcast(cent), expr("true"), "cross")
      .withColumn("c_cos", dot(col("emb"), col("cent_emb")) / (col("nrm") * col("cent_nrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cent_id"), struct(col("c_cos"), -col("cent_id"))).as("cluster"),
        first(col("emb")).as("emb"),
        first(col("nrm")).as("nrm")
      )
      .select(col("vec_id"), col("emb"), col("nrm"), col("cluster"))
    val queries = assigned
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"), col("cluster"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    queries
      .join(assigned.filter(col("vec_id") >= 5), Seq("cluster"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select("query_id", "cluster", "vec_id", "rank", "cosine")
  }

  /** SEMANTIC decontamination — the third tier of the decontamination
    * family (q129 exact shingle overlap → q133 lexical near-dup →
    * embedding similarity, [[graft.operators.Dedup.decontamSemantic]]):
    * per train vector (vec_id % 10 ≠ 0), its best-cosine match in the
    * eval set (% 10 = 0) and the verdict. The eval matrix rides as
    * ArgmaxCosine constructor state (the q26 discipline) and the
    * winning cosine is one broadcast join on the argmax id — two dot
    * products per train row at any eval size. Threshold 0.4: the
    * synthetic embeddings plant no cross-split replicas (best
    * best-cosine ≈ 0.49 at sf0.01), so 0.4 exercises both verdict
    * branches; production uses the operator's 0.5+ default against
    * real replicas.
    */
  def q135SemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = Parquet.read(spark, s"$dir/embeddings.parquet")
    val isEval = col("vec_id") % 10 === 0
    graft.operators.Dedup
      .decontamSemantic(e.filter(!isEval), e.filter(isEval), "vec_id", "embedding", threshold = 0.4)
  }
}
