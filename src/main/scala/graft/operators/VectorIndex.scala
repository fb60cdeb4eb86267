package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF (inverted-file) vector index on parquet — the vector
  * twin of [[NearDupIndex]]: build once, probe every query batch
  * against durable state, append new vectors incrementally. This is
  * what makes ANN viable on a 100 TB embedding corpus: the expensive
  * part (assigning every vector to a coarse centroid) is paid once and
  * persisted, and a probe reads ONLY the partitions of the probed
  * clusters.
  *
  * Layout under `indexPath`:
  *   - `centroids/`   — K rows `(cent_id, cent_emb, cent_nrm)`: tiny,
  *     always broadcast.
  *   - `assignments/` — one row per indexed vector
  *     `(vec_id, emb, nrm, cluster)`, hive-partitioned BY CLUSTER, so
  *     a probe's `cluster IN (...)` filter becomes partition pruning —
  *     the scan never touches unprobed clusters' files.
  *
  * Determinism contract (same as q26): cosine via the codegen'd
  * sequential-fold [[graft.functions.DotProduct]]; argmax ties broken
  * toward the smaller cent_id; assignment is a `max_by` partial
  * aggregate, collapsing N×K before any shuffle.
  *
  * Concurrency (r16 reader/writer audit): the index is a
  * [[DurableRoot.leaseOnly]] root. MUTATIONS ([[appendAssigned]],
  * [[rebalance]]) take its single-writer lease — concurrent appends
  * sharing a vec_id would both pass the idempotence anti-join, and an
  * append racing a rebalance's cluster-dir deletes would silently lose
  * rows. READERS ([[probePairs]], [[query]], [[clusterStats]]) take
  * nothing and heal nothing: the family declares no strand dirs and
  * an empty heal, because writes are append-only and the rebalance is
  * crash-ORDERED (promoted centroids land before member dirs move), so
  * at every crash point a plain read sees a probeable index (worst
  * case: degraded recall until the re-run), never a missing root.
  */
object VectorIndex {

  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_dot(a, b)

  private def withNorm(vectors: DataFrame): DataFrame =
    vectors.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Assign every vector to its argmax-cosine centroid (ties toward the
    * smaller cent_id — the q26 rule). The centroid set is BOUNDED (K ~
    * √N by the build rule), so it is collected once and the assignment
    * is the native [[graft.functions.ArgmaxCosine]] loop: N × K cosines
    * computed inside whole-stage codegen with ZERO intermediate rows
    * and no K×dim literal in the expression tree. The previous
    * broadcast-cross-join + max_by shape had the right shuffle profile
    * (nothing wider than N crossed the wire) but materialized every
    * pair as a row carrying BOTH 64-double arrays — ~32 GB of row
    * copies at the 100k × 316 stress point, measured 7× slower
    * end-to-end on build. Decision parity is bit-exact: same
    * sequential-fold dot, same `s / (nrm·cent_nrm)` op order, strict
    * `>` over ascending cent_ids ⇔ max_by(struct(c_cos, -cent_id)).
    */
  private def assignTo(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("cent_id"), col("cent_emb"), col("cent_nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "index has no centroids")
    vectors
      // One row per vec_id, whatever the caller delivers (producer
      // retries can repeat an id inside a single batch/corpus) — the
      // one-row-per-vector index invariant lives HERE, exactly as the
      // old cross-join shape's groupBy(vec_id) enforced it, with the
      // same N-row shuffle profile.
      .groupBy(col("vec_id"))
      .agg(first(col("emb")).as("emb"), first(col("nrm")).as("nrm"))
      .withColumn(
        "cluster",
        // Zero-norm (or NaN-component) embeddings make every cosine
        // NaN; the argmax would return the -1 sentinel and the row
        // would land under a centroid-less `cluster=-1` dir, invisible
        // to every probe — fail loudly instead of losing data silently.
        when(
          col("nrm") > 0,
          graft.functions.GraftFunctions.graft_argmax_cos(
            col("emb"),
            col("nrm"),
            cents.map(_._1).toSeq,
            cents.map(_._2).toSeq,
            cents.map(_._3).toSeq
          )
        ).otherwise(raise_error(concat(lit("zero-norm embedding vec_id="), col("vec_id").cast("string"))))
      )
      .select(col("vec_id"), col("emb"), col("nrm"), col("cluster"))
  }

  /** Build the index from `(vec_id, emb)` vectors. Centroids are the
    * caller-designated seed rows (`isCentroid`, e.g. a deterministic
    * id rule or a k-means result's medoids) — the coarse quantizer is
    * pluggable; the index machinery is the point here.
    *
    * `maxOverMedian` arms the skew guard: after the initial write, any
    * cluster larger than `bound × median(cluster size)` is split by
    * [[rebalance]] (the [[graft.queries.VectorQueries.semanticBlocksOn]]
    * sub-seed rule, promoted to first-class centroids), so one
    * collapsed mega-cluster cannot concentrate every probe that lands
    * on it onto one partition's worth of candidates.
    */
  def build(
      spark: SparkSession,
      vectors: DataFrame,
      indexPath: String,
      isCentroid: Column,
      maxOverMedian: Option[Double] = None
  ): Unit = {
    val v = withNorm(vectors.select(col("vec_id"), col("emb")))
    val cent = v
      .filter(isCentroid)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"), col("nrm").as("cent_nrm"))
    // The centroids write and the assignment pass both derive from the
    // same scan and are independent effects (nothing reads the index
    // until build returns) — run the centroids write on a second
    // driver thread while assignTo collects the SAME centroid frame
    // directly (guide §2.6). Value parity with the old
    // write-then-read-back shape is exact: parquet stores the IEEE
    // bits, so the round-trip never changed a double.
    Overlap.both {
      cent.write.mode("overwrite").parquet(s"$indexPath/centroids")
    } { _ =>
      // Co-locate each cluster's rows before the partitioned write: one
      // N-row shuffle buys ~one file per cluster dir instead of
      // shuffle-partitions × clusters tiny files (measured 10k files for
      // 316 clusters without it — at warehouse scale that is millions of
      // files per build). Cluster-size skew is bounded by the
      // maxOverMedian/rebalance guard, so no writer task degenerates.
      assignTo(v, cent.select(col("cent_id"), col("cent_emb"), col("cent_nrm")))
        .repartition(col("cluster"))
        .write
        .mode("overwrite")
        .partitionBy("cluster")
        .parquet(s"$indexPath/assignments")
    }
    maxOverMedian.foreach(bound => rebalance(spark, indexPath, bound))
  }

  /** Skew escalation — the operator playbook [[clusterStats]] points
    * at, as one callable step: every cluster whose size exceeds
    * `maxOverMedian × median(cluster size)` is re-blocked by the
    * semanticBlocksOn seed rule (hash-sampled candidate pool → rank
    * window keeps exactly ceil(n/cap) seeds; the cluster's own centroid
    * always remains a seed), members re-assign to their nearest seed by
    * cosine, the sampled seeds are PROMOTED to first-class centroids,
    * and only the affected partitions are rewritten (explicit directory
    * replace — not atomic; pause probes or snapshot the index dir for
    * an online rebuild). Writes are crash-ordered so every intermediate
    * state stays probeable: promoted centroids land before any dir is
    * touched (an extra centroid over an empty dir only degrades recall;
    * assignment rows under a centroid-less cluster id would be
    * invisible to every probe), and a retry after a crash ADOPTS any
    * centroids the crashed attempt promoted — they re-enter as seeds
    * for their current cluster, so orphans are healed by the rewrite
    * rather than accumulated across attempts. Probe semantics are preserved: a full probe
    * after a rebalance is still exactly brute force (VectorIndexSpec),
    * and `append` keeps working because new seeds are ordinary centroid
    * rows. Returns the number of clusters split (0 = nothing oversized,
    * making the call idempotent in the fixed-point sense).
    *
    * Bounded driver state: the stats histogram (one row per cluster)
    * and the centroid id set — never member vectors.
    */
  def rebalance(
      spark: SparkSession,
      indexPath: String,
      maxOverMedian: Double
  ): Int = {
    require(maxOverMedian >= 1.0, s"maxOverMedian must be >= 1, got $maxOverMedian")
    import spark.implicits._
    // Single-writer fence (r16): a rebalance deletes whole cluster=
    // dirs before re-appending their members — racing a concurrent
    // append (or a second rebalance) it silently loses rows. The fence
    // covers the stats read too, so the delete set is decided under
    // the same lease that performs it. Adhoc token: rebalances are
    // operator-scheduled single shots (crash runbook: lease_break,
    // then re-run — the crash-ordering below leaves the index
    // probeable and the re-run recomputes from surviving members).
    DurableRoot.leaseOnly(spark, indexPath, "VectorIndex.rebalance")
      .write(DurableRoot.adhocToken("ivf-rebalance")) {
    val stats = clusterStats(spark, indexPath).collect().map(r => (r.getLong(0), r.getLong(1)))
    if (stats.isEmpty) return 0
    val sorted = stats.map(_._2).sorted
    val median = sorted(sorted.length / 2)
    val cap = math.max((median * maxOverMedian).toLong, 1L)
    val over = stats.filter(_._2 > cap)
    if (over.isEmpty) return 0
    val overIds = over.map(_._1).toSeq
    val asgnRaw = Parquet.read(spark, s"$indexPath/assignments")
    val typedOver: Seq[Any] = asgnRaw.schema("cluster").dataType match {
      case org.apache.spark.sql.types.IntegerType => overIds.map(_.toInt)
      case org.apache.spark.sql.types.LongType    => overIds
      case _                                      => overIds.map(_.toString)
    }
    val members = asgnRaw
      .filter(col("cluster").isin(typedOver: _*))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cluster").cast("long").as("cluster"))
    val centsAll = Parquet.read(spark, s"$indexPath/centroids")
    // Per-cluster split parameters come from the already-collected
    // histogram — no second pass over the data.
    val sizeDf = over.toSeq.map { case (c, n) =>
      val nSub = (n + cap - 1) / cap
      (c, nSub, math.max(n / nSub / 4, 1L))
    }.toDF("cluster", "n_sub", "cand_stride")
    val h28 = conv(substring(md5(col("vec_id").cast("string")), 1, 7), 16, 10).cast("long")
    val wSeed = Window.partitionBy(col("cluster")).orderBy(col("__h"), col("vec_id"))
    // Sampled seeds must not collide with an existing centroid id (a
    // centroid vector can sit in an oversized cluster): anti-join them
    // out — the original centroid participates via centSeeds below,
    // keeping its cluster id so the retained block needs no new dir.
    val newSeeds = members
      .join(broadcast(sizeDf), Seq("cluster"))
      .join(centsAll.select(col("cent_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("__h", h28)
      .filter(pmod(col("__h"), col("cand_stride")) === 0)
      .withColumn("__srk", row_number().over(wSeed))
      .filter(col("__srk") <= col("n_sub"))
      .select(col("cluster"), col("vec_id").as("seed_id"), col("emb").as("seed_emb"), col("nrm").as("seed_nrm"))
    // Seeds drawn from the centroid table: the oversized cluster's own
    // centroid, PLUS any centroid whose vector currently sits inside an
    // oversized cluster — in particular seeds promoted by a previous
    // rebalance attempt that crashed before the member rewrite.
    // Re-seeding those ADOPTS the orphans (this run's rewrite creates
    // their dirs) instead of excluding them and accumulating
    // member-less centroids across retries. The duplicate row when a
    // centroid is a member of its own cluster carries identical values
    // (same doubles through both parquet paths) and distinct() folds it.
    val centSeeds = members
      .join(centsAll.select(col("cent_id").as("vec_id")), Seq("vec_id"))
      .select(col("cluster"), col("vec_id").as("seed_id"), col("emb").as("seed_emb"), col("nrm").as("seed_nrm"))
      .unionByName(
        centsAll
          .filter(col("cent_id").isin(overIds: _*))
          .select(col("cent_id").as("cluster"), col("cent_id").as("seed_id"), col("cent_emb").as("seed_emb"), col("cent_nrm").as("seed_nrm"))
      )
      .distinct()
    val allSeeds = newSeeds.unionByName(centSeeds)
    val reassigned = members
      .join(allSeeds, Seq("cluster"))
      .withColumn("s_cos", dot(col("emb"), col("seed_emb")) / (col("nrm") * col("seed_nrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("seed_id"), struct(col("s_cos"), -col("seed_id"))).as("new_cluster"),
        first(col("emb")).as("emb"),
        first(col("nrm")).as("nrm")
      )
      .select(col("vec_id"), col("emb"), col("nrm"), col("new_cluster").as("cluster"))
      .localCheckpoint() // read-own-output barrier before touching the dirs
    val promoted = newSeeds
      .select(col("seed_id").as("cent_id"), col("seed_emb").as("cent_emb"), col("seed_nrm").as("cent_nrm"))
      .localCheckpoint()
    // Crash-ordering: the promoted centroids land FIRST. A centroid
    // whose `cluster=` dir is empty or missing is harmless (a probe
    // that selects it finds zero candidates — degraded recall, nothing
    // lost), whereas assignment rows whose cluster id is absent from
    // centroids/ would be invisible to EVERY probe. With this order,
    // any crash point leaves the index probeable: before the deletes
    // the old mega-cluster still answers in full; between delete and
    // append a re-run recomputes from the surviving members.
    promoted.write.mode("append").parquet(s"$indexPath/centroids")
    // Replace the oversized partitions wholesale: dynamic partition
    // overwrite would leave a stale dir behind if every member left its
    // original cluster, so the affected `cluster=` dirs are deleted
    // explicitly and the re-blocked rows appended.
    val fs = org.apache.hadoop.fs.FileSystem
      .get(java.net.URI.create(indexPath), spark.sparkContext.hadoopConfiguration)
    overIds.foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/assignments/cluster=$c"), true)
    }
    reassigned
      .repartition(col("cluster"))
      .write
      .mode("append")
      .partitionBy("cluster")
      .parquet(s"$indexPath/assignments")
    over.length
    } // write
  }

  /** Append a batch of new vectors, assigned against the EXISTING
    * centroids (the IVF contract: the coarse quantizer is frozen
    * between rebuilds). Idempotent: already-indexed vec_ids are
    * anti-joined away, so a replayed batch cannot double-append.
    */
  def append(spark: SparkSession, batch: DataFrame, indexPath: String): Unit = {
    val cent = Parquet.read(spark, s"$indexPath/centroids")
    val fresh = withNorm(batch.select(col("vec_id"), col("emb")))
    appendAssigned(spark, assignTo(fresh, cent), indexPath)
  }

  /** [[append]] for rows that ALREADY carry their assignment
    * `(vec_id, emb, nrm, cluster)` — the ingest path computes the
    * assignment once for its within-batch pairing and must not pay the
    * centroid cross join a second time to index the survivors. Same
    * idempotence contract: already-indexed vec_ids are anti-joined
    * away, so a replayed batch cannot double-append.
    */
  def appendAssigned(spark: SparkSession, assigned: DataFrame, indexPath: String): Unit = {
    // Single-writer fence (r16), same contract as every durable family:
    // two concurrent appends that share a vec_id both pass the
    // anti-join and double-index it, and an append racing a rebalance
    // can land rows into a cluster dir the rebalance then deletes —
    // rows silently lost. Adhoc (unique) token: appends have no
    // applied id (idempotence is the anti-join), so a crashed append's
    // retry simply re-runs — but it must lease_break first, which is
    // the loud path we want for a crash mid-append.
    DurableRoot.leaseOnly(spark, indexPath, "VectorIndex.appendAssigned")
      .write(DurableRoot.adhocToken("ivf-append")) {
      val existing = Parquet.read(spark, s"$indexPath/assignments").select("vec_id")
      assigned
        .select(col("vec_id"), col("emb"), col("nrm"), col("cluster"))
        .join(existing, Seq("vec_id"), "left_anti")
        .repartition(col("cluster")) // ~one file per touched cluster dir (see build)
        .write
        .mode("append")
        .partitionBy("cluster")
        .parquet(s"$indexPath/assignments")
    }
  }

  /** Data-aware coarse quantizer: `iters` Lloyd rounds of k-means over
    * `(vec_id, emb)`, then the MEDOID of each cluster — the corpus
    * member nearest its final mean — so the result plugs straight into
    * [[build]]'s `isCentroid` as `col("vec_id").isin(medoids: _*)`.
    * Beats the deterministic id-rule quantizer on recall@nProbe because
    * centroids sit where the data is (VectorIndexSpec measures both).
    *
    * Seeding is hash-spread: the k corpus members with the smallest
    * `(h28(vec_id), vec_id)` — a deterministic uniform sample, so the
    * initial centroids follow the data distribution instead of whatever
    * corner of the space the lowest ids happen to occupy (first-k-ids
    * seeding is quality-blind: correlated ids put every seed in one
    * region and the first Lloyd round starts degenerate). Greedy
    * farthest-point (deterministic k-means++) was measured WORSE here:
    * in high dimensions max-min distance selects outliers (recall 0.26
    * vs 0.44 for uniform sampling on the 64-dim fixture), which is why
    * k-means++ samples D²-proportionally rather than taking the argmax
    * — and uniform hash sampling is the deterministic stand-in that
    * keeps that property. The pool extends past k (max(4k, 32)
    * candidates from one bounded TakeOrdered); the unused tail is the
    * RESERVE: a Lloyd round that empties a cluster (or identical seed
    * vectors splitting zero members) re-seeds from the reserve, so the
    * returned medoid count is min(k, corpus rows) — guaranteed, never a
    * silent shrink. A re-seeded medoid is a hash-sampled member rather
    * than a cluster's nearest-to-mean; for an IVF quantizer any corpus
    * member is a valid extra centroid.
    *
    * Scale shape: each round is the q58 Lloyd step — one broadcast
    * cross join + `min_by` partial aggregate (N×k collapses map-side),
    * then an integer-scaled per-dimension mean (exact long sums —
    * order-independent, so the medoid choice is deterministic across
    * runs and partitionings). The candidate pull is a TakeOrdered of
    * max(4k, 32) rows (a global orderBy+limit rather than a sample()
    * precisely so the pool is deterministic across runs and
    * partitionings); driver state is k centroids × dim doubles per round
    * (bounded), never a data-sized collect; the corpus is re-scanned
    * per round from its durable source rather than pinned.
    */
  def kmeansMedoids(
      spark: SparkSession,
      vectors: DataFrame,
      k: Int,
      iters: Int = 2
  ): Seq[Long] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    import spark.implicits._
    val scale = 1048576L // 2^20: float 24-bit mantissa x 2^20 stays exact
    val e = vectors.select(col("vec_id"), col("emb"))
    def sqDist(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.graft_l2(a, b)
    val h28 = conv(substring(md5(col("vec_id").cast("string")), 1, 7), 16, 10).cast("long")
    val pool: Seq[(Long, Seq[Double])] = e
      .orderBy(h28, col("vec_id"))
      .limit(math.max(4 * k, 32))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq
    val candidates = pool.take(k)
    val reserve = pool.drop(k)
    // Candidate ids are pairwise distinct and every centroid id ever in
    // play is a candidate id, so topping up from the unused reserve can
    // never collide with a surviving cluster id.
    def topUp(cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] =
      if (cents.size >= k) cents
      else {
        val used = cents.map(_._1).toSet
        cents ++ reserve.filterNot(c => used(c._1)).take(k - cents.size)
      }
    def assign(cents: Seq[(Long, Seq[Double])]): DataFrame =
      e.join(broadcast(cents.toDF("cent_id", "cent_emb")), expr("true"), "cross")
        .withColumn("dist", sqDist(col("emb"), col("cent_emb")))
        .groupBy(col("vec_id"))
        .agg(
          min_by(col("cent_id"), struct(col("dist"), col("cent_id"))).as("cluster"),
          min_by(col("dist"), struct(col("dist"), col("cent_id"))).as("dist"),
          first(col("emb")).as("emb")
        )
    var cents: Seq[(Long, Seq[Double])] = candidates
    for (_ <- 1 to iters) {
      cents = topUp(
        assign(cents)
          .select(col("cluster"), posexplode(col("emb")).as(Seq("pos", "v")))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(floor(col("v") * scale)).cast("long").as("s"), count(lit(1)).as("n"))
          .withColumn("cv", col("s").cast("double") / (col("n") * lit(scale.toDouble)))
          .groupBy(col("cluster"))
          .agg(
            transform(array_sort(collect_list(struct(col("pos"), col("cv")))), s => s.getField("cv"))
              .as("cent_emb")
          )
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
          .toSeq
      )
    }
    // Medoid: the member nearest its cluster's FINAL mean (one more
    // assignment pass against the refreshed centroids), ties toward the
    // smaller vec_id. One k-row collect. The final assignment can also
    // leave a centroid memberless, so the medoid set tops up from the
    // reserve the same way — min(k, corpus rows) ids, guaranteed.
    val medoids = assign(cents)
      .groupBy(col("cluster"))
      .agg(min_by(col("vec_id"), struct(col("dist"), col("vec_id"))).as("medoid"))
      .select("medoid")
      .collect()
      .map(_.getLong(0))
      .toSeq
    val got = medoids.toSet
    (medoids ++ reserve.map(_._1).filterNot(got).take(k - medoids.size)).sorted
  }

  /** Assign a batch to the index's FROZEN centroids (the append rule)
    * without writing anything: `(vec_id, emb, nrm, cluster)`. The
    * blocking primitive ingest-time dedup shares with [[append]].
    */
  def assignBatch(spark: SparkSession, batch: DataFrame, indexPath: String): DataFrame = {
    val v = withNorm(batch.select(col("vec_id"), col("emb")))
    assignTo(v, Parquet.read(spark, s"$indexPath/centroids"))
  }

  /** Batch-vs-index near-duplicate pairs — the incremental SemDeDup
    * primitive: assign each batch `(vec_id, emb)` to its nearest
    * centroid (broadcast argmax, same rule as [[build]]), scan ONLY the
    * assigned clusters' partitions (the probed-cluster set is bounded
    * by K, so the typed-literal partition prune applies), and return
    * `(vec_id, dup_of, cosine)` for every indexed neighbor at
    * `cosine >= minCosine`. Indexed rows whose vec_id appears in the
    * batch itself are excluded, so a REPLAYED batch (whose survivors
    * were already appended) probes exactly the pre-batch index — the
    * property streaming ingest needs for exactly-once acceptance.
    */
  def probePairs(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      minCosine: Double
  ): DataFrame =
    probePairsAssigned(spark, assignBatch(spark, batch, indexPath), indexPath, minCosine)

  /** [[probePairs]] for a batch that ALREADY carries its assignment
    * `(vec_id, emb, nrm, cluster)` — the ingest path assigns once and
    * shares that frame between this probe, the within-batch pairing,
    * and the survivor append, rather than paying the argmax (and the
    * centroid read) per consumer. The batch's own vec_ids are still
    * excluded from the candidate side, so a replayed batch probes
    * exactly the pre-batch index.
    */
  def probePairsAssigned(
      spark: SparkSession,
      assigned: DataFrame,
      indexPath: String,
      minCosine: Double
  ): DataFrame = {
    // Bounded collect: distinct probed clusters <= K centroids.
    val probed = assigned.select("cluster").distinct().collect().map(_.getLong(0))
    val asgnRaw = Parquet.read(spark, s"$indexPath/assignments")
    val typedProbes: Seq[Any] = asgnRaw.schema("cluster").dataType match {
      case org.apache.spark.sql.types.IntegerType => probed.map(_.toInt).toSeq
      case org.apache.spark.sql.types.LongType    => probed.toSeq
      case _                                      => probed.map(_.toString).toSeq
    }
    val candidates = asgnRaw
      .filter(col("cluster").isin(typedProbes: _*))
      .withColumn("cluster", col("cluster").cast("long"))
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("cluster"), col("vec_id").as("dup_of"), col("emb").as("i_emb"), col("nrm").as("i_nrm"))
    assigned
      .join(candidates, Seq("cluster"))
      .withColumn("cosine", dot(col("emb"), col("i_emb")) / (col("nrm") * col("i_nrm")))
      .filter(col("cosine") >= minCosine)
      .select(col("vec_id"), col("dup_of"), col("cosine"))
  }

  /** Rows per cluster — the skew observable. A probe's cost is LINEAR
    * in the probed clusters' sizes (|queries| × cluster rows — there is
    * no Σ cluster² path here, unlike SemDeDup pairing), but one
    * collapsed mega-cluster still concentrates every probe that lands
    * on it onto one partition's worth of candidates. Operators watch
    * this histogram and escalate by rebuilding with more centroids (or
    * sub-seeding the oversized cluster with
    * [[graft.queries.VectorQueries.semanticBlocksOn]]'s hash-stride
    * rule) when max(n)/median(n) drifts. One small agg over the
    * cluster-partitioned parquet — footer-driven, no full scan of the
    * vectors themselves.
    */
  def clusterStats(spark: SparkSession, indexPath: String): DataFrame =
    Parquet.read(spark, s"$indexPath/assignments")
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"))

  /** Top-`topK` cosine neighbors for each `(query_id, emb)` row,
    * searching the `nProbe` nearest clusters per query. The probed
    * cluster ids are a BOUNDED set (|queries| × nProbe — queries are
    * few by construction, like any ANN serving batch), so collecting
    * them to drive partition pruning is the legitimate
    * bounded-build-side pattern, not a data-sized driver collect.
    */
  def query(
      spark: SparkSession,
      queries: DataFrame,
      indexPath: String,
      topK: Int = 10,
      nProbe: Int = 1
  ): DataFrame = {
    require(topK > 0 && nProbe > 0, "topK and nProbe must be positive")
    val cent = Parquet.read(spark, s"$indexPath/centroids")
    val q = withNorm(queries.select(col("vec_id").as("query_id"), col("emb")))
      .select(col("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("c_cos").desc, col("cent_id").asc)
    val probes = q
      .join(broadcast(cent), expr("true"), "cross")
      .withColumn("c_cos", dot(col("q_emb"), col("cent_emb")) / (col("q_nrm") * col("cent_nrm")))
      .withColumn("prb", row_number().over(wProbe))
      .filter(col("prb") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cent_id").as("cluster"))
    // Bounded collect: the distinct probed clusters gate the scan so
    // parquet partition pruning skips every unprobed cluster directory.
    val probedClusters = probes.select("cluster").distinct().collect().map(_.getLong(0))
    val asgnRaw = Parquet.read(spark, s"$indexPath/assignments")
    // Hive partition-value inference may type `cluster=` dirs as INT; the
    // probe literals must match that type EXACTLY — a cast on the column
    // side would sit above the scan and defeat partition pruning.
    val typedProbes: Seq[Any] = asgnRaw.schema("cluster").dataType match {
      case org.apache.spark.sql.types.IntegerType => probedClusters.map(_.toInt).toSeq
      case org.apache.spark.sql.types.LongType    => probedClusters.toSeq
      case _                                      => probedClusters.map(_.toString).toSeq
    }
    val candidates = asgnRaw
      .filter(col("cluster").isin(typedProbes: _*))
      .withColumn("cluster", col("cluster").cast("long"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    probes
      .join(candidates, Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select("query_id", "cluster", "vec_id", "rank", "cosine")
  }
}
