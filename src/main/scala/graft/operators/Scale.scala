package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out techniques as reusable operators: bucketed co-located
  * joins (shuffle elimination for repeated big-big joins) and salted
  * joins (hot-key skew mitigation beyond what AQE's skew-split covers).
  */
object Scale {

  /** Write a DataFrame as a bucketed+sorted table. Joins between tables
    * bucketed on the same key with the same bucket count plan as
    * SortMergeJoin with NO Exchange on either side — the shuffle is paid
    * once at write time and amortized over every subsequent join, the
    * core trick for repeated fact-fact joins at 100 TB.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Co-located equi-join of two bucketed tables (read back by name). */
  def bucketedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      key: String,
      joinType: String = "inner"
  ): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)

  /** Sharded corpus EXPORT — the final stage of a curation pipeline:
    * training jobs want shards that are stable across re-runs, roughly
    * balanced, internally ordered, and described by a manifest the
    * reader can trust without listing files. Two modes, because the
    * two desirable contracts genuinely conflict:
    *
    *  - `"hash"` (default): `shard = pmod(xxhash64(key), n)` — a pure
    *    function of the DATA, so the same corpus exports identical
    *    shard CONTENTS under ANY input partitioning (spec-asserted);
    *    with a UNIQUE key the within-shard sort is total and the
    *    export is byte-stable too (duplicate keys leave tie order
    *    layout-dependent — use `doc_id`, not a value column, when
    *    byte-stability is the contract). Shard key-ranges overlap;
    *    readers address shards by number.
    *  - `"range"`: `repartitionByRange` + within-shard sort — shard
    *    key-ranges are DISJOINT and ordered (manifest min/max enable
    *    key-pruned reads), but Spark picks bounds by SAMPLING the
    *    input, so boundary placement is only stable for a fixed input
    *    layout. This is the industry-standard tradeoff (every sampled
    *    range partitioner shares it); don't use it when byte-stable
    *    re-exports are the contract.
    *
    * Both branches sort within shards by `(shard, key)` — the leading
    * shard column satisfies the partitioned writer's required
    * ordering, so the writer inserts NO extra sort (one sort per row,
    * plan-guaranteed within-shard key order; sorting by the key alone
    * would make the writer re-sort by `shard` and leave the key order
    * to sort-stability luck). Output is hive-partitioned on `shard=`
    * so a reader prunes to its assignment. The manifest enumerates
    * ALL `nShards` rows — an empty shard appears with `n_rows = 0`
    * and null min/max, so "directory missing" always means lost data,
    * never ambiguity — is computed from what actually LANDED, and is
    * swapped in via tmp + rename: a crash between the data write and
    * the manifest write leaves the manifest ABSENT (detectable), not
    * stale. Never a global one-task sort at any size.
    */
  def exportShards(
      df: DataFrame,
      orderCol: String,
      nShards: Int,
      path: String,
      mode: String = "hash"
  ): DataFrame = {
    val spark = df.sparkSession
    val withShard = mode match {
      case "hash" =>
        df.withColumn(
            "shard",
            pmod(xxhash64(col(orderCol)), lit(nShards.toLong)).cast("int")
          )
          .repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col(orderCol))
      case "range" =>
        df.repartitionByRange(nShards, col(orderCol))
          .withColumn(
            "shard",
            org.apache.spark.sql.functions.spark_partition_id()
          )
          .sortWithinPartitions(col("shard"), col(orderCol))
      case other =>
        throw new IllegalArgumentException(s"exportShards mode must be hash|range, got $other")
    }
    withShard.write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(path)
    // manifest from what actually landed — not from the plan — with
    // every shard id present (empty shards as explicit zero rows) and
    // an order-independent CONTENT digest per shard (wrapping 64-bit
    // SUM of the per-row xxhash64 over every data column — see
    // [[contentDigest]] for why sum, not xor): bitrot or a partial
    // copy that preserves counts and key ranges still moves the sum,
    // and [[verifyExport]] checks all three from the landed files.
    val landedRaw = Parquet.read(spark, path)
    val dataCols = digestCols(landedRaw)
    val landed = landedRaw
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(orderCol)).as("min_key"),
        max(col(orderCol)).as("max_key"),
        contentDigest(dataCols).as("content_digest")
      )
    val manifest = spark
      .range(0, nShards)
      .select(col("id").cast("int").as("shard"))
      .join(landed, Seq("shard"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
      .withColumn("content_digest", coalesce(col("content_digest"), lit(0L)))
    val tmp = s"$path.__manifest_tmp"
    val fin = s"$path.__manifest"
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(fin), true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(fin)))
      throw new java.io.IOException(s"manifest rename failed: $tmp -> $fin")
    Parquet.read(spark, fin)
  }

  /** The digest's column set: every data column whose type xxhash64
    * accepts (maps are unhashable in Spark — a map-typed column is
    * excluded from the digest rather than failing the export; counts
    * and key ranges still cover it). Sorted so writer and verifier
    * agree regardless of projection order. At least the order/key
    * columns are always hashable, so the set is never empty for an
    * exportShards layout.
    */
  private def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case a: ArrayType => hashable(a.elementType)
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val cols = df.schema.fields
      .filter(f => f.name != "shard" && hashable(f.dataType))
      .map(_.name)
      .sorted
    require(cols.nonEmpty, "export digest needs at least one hashable column")
    cols.toSeq.map(col)
  }

  /** Order-independent, MULTIPLICITY-SENSITIVE per-shard content
    * digest: the wrapping 64-bit sum of the per-row xxhash64 over the
    * digest columns. An earlier revision xor'd the row hashes, which
    * is blind to even-multiplicity corruption — any row appearing an
    * even number of times xors to zero, so swapping a duplicated row
    * pair for a different duplicated pair (or injecting 2k junk copies
    * while dropping an even group) preserved both count and digest. A
    * sum is linear in multiplicity: every extra or missing copy moves
    * it.
    *
    * Wrapping arithmetic is computed exactly and ANSI-safely: the row
    * hashes sum in Decimal(38,0) (|h| < 2^63, so the decimal overflows
    * only past ~10^19 rows per shard — no real shard), then reduce mod
    * 2^64 back into signed-long range. Still one map-side-combining
    * agg per shard — identical plan shape to the xor it replaces.
    */
  private def contentDigest(dataCols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val two64 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64)))
    val two63 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63)))
    val s = sum(xxhash64(dataCols: _*).cast(DecimalType(38, 0)))
    val m = pmod(s, two64)
    when(m >= two63, m - two64).otherwise(m).cast(LongType)
  }

  /** Verify a landed [[exportShards]] export against its own
    * `__manifest`: re-read the shard files and recompute each shard's
    * row count, key range, and order-independent content digest, then
    * compare all three — the integrity check a release pipeline runs
    * after a cross-system copy (and a scheduled bitrot scan runs on
    * cold shards). The three checks escalate: a lost part-file fails
    * `n_rows`; a truncation that resects whole key ranges fails
    * `min/max`; silent corruption that preserves counts and ranges
    * still moves the multiplicity-sensitive sum of per-row hashes
    * ([[contentDigest]]). Returns one row per
    * manifest shard with the stored and recomputed values and an `ok`
    * flag; the caller alerts on `!ok` rows.
    *
    * Scale shape: one pass over the export (per-shard agg with
    * map-side partials) + a broadcast-sized join against the O(shards)
    * manifest — same cost as writing the manifest was.
    *
    * Manifests from the retired xor-digest revision (column
    * `content_xor`) are REFUSED loudly rather than silently verified
    * against the wrong algorithm: the xor digest passes on
    * even-multiplicity corruption, so "verified" under it would be a
    * false promise — re-export (or re-manifest) with the current
    * [[exportShards]] to upgrade.
    */
  def verifyExport(spark: SparkSession, path: String): DataFrame = {
    val manifest = Parquet.read(spark, s"$path.__manifest")
    require(
      !manifest.columns.contains("content_xor"),
      s"$path.__manifest carries the retired xor content digest, which is " +
        "blind to even-multiplicity corruption — re-export with the current " +
        "exportShards to record the multiplicity-sensitive sum digest"
    )
    require(
      Set("shard", "n_rows", "content_digest").subsetOf(manifest.columns.toSet),
      s"$path.__manifest is not a digest-bearing exportShards manifest " +
        "(re-export with the current exportShards to add content_digest)"
    )
    val landedRaw = Parquet.read(spark, path)
    val dataCols = digestCols(landedRaw)
    // counts + digest are column-order-free and the digest covers
    // every hashable data column (key ranges included), so the
    // comparison needs no knowledge of which column the export was
    // ordered by.
    val got = landedRaw
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("got_rows"),
        contentDigest(dataCols).as("got_digest")
      )
    manifest
      .join(got, Seq("shard"), "left")
      .withColumn("got_rows", coalesce(col("got_rows"), lit(0L)))
      .withColumn("got_digest", coalesce(col("got_digest"), lit(0L)))
      .withColumn(
        "ok",
        col("got_rows") === col("n_rows") && col("got_digest") === col("content_digest")
      )
      .select(
        col("shard"),
        col("n_rows"),
        col("got_rows"),
        col("content_digest"),
        col("got_digest"),
        col("ok")
      )
  }

  /** Skew report for a join/aggregation key: per-key counts for the
    * top-k heaviest keys plus the skew ratio (max key count ÷ mean key
    * count). The number that tells you whether [[saltedJoin]] (or AQE's
    * skew split) is needed BEFORE the 2 a.m. straggler does. One keyed
    * agg + a bounded top-k — safe at any scale.
    */
  def skewReport(df: DataFrame, key: String, topK: Int = 10): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      max(col("cnt")).as("max_cnt"),
      avg(col("cnt")).as("mean_cnt"),
      count(lit(1)).as("n_keys")
    )
    counts
      .orderBy(col("cnt").desc, col(key).asc)
      .limit(topK)
      .crossJoin(broadcast(stats))
      .withColumn("skew_ratio", col("max_cnt") / col("mean_cnt"))
      .select(col(key), col("cnt"), col("n_keys"), col("skew_ratio"))
      // the join does not preserve the limit's order — re-impose the
      // ranking the contract promises
      .orderBy(col("cnt").desc, col(key).asc)
  }

  /** NESTED deterministic subsample grid — the scaling-law suite's
    * sampling primitive: label every row with the deepest grid tier
    * containing it, where tier k is an expected 1/10^k sample and the
    * tiers are STRICT SUBSETS by construction (`tier >= k` gives the
    * k-tier sample; 10^k | h implies 10^(k-1) | h, so each sample is
    * contained in the previous — the property a scaling-law sweep
    * needs so the 0.1% run's data is literally inside the 1% run's,
    * isolating the scale axis from sampling noise). Uniform random
    * per-tier draws would not nest; drawing tier k FROM tier k-1 would
    * nest but couples the draws sequentially — the divisibility chain
    * gives both nesting and one-pass independence.
    *
    * The hash is the engine's portable md5-prefix keyed by (seed, id):
    * deterministic across runs, partitionings, and engines, and
    * membership never changes as the corpus grows (a doc's tier is a
    * pure function of its id). One per-row projection — no shuffle, no
    * state, trivially 100 TB-safe.
    */
  def nestedSampleTiers(
      df: DataFrame,
      idCol: String,
      seed: String,
      maxTier: Int = 3
  ): DataFrame = {
    require(maxTier >= 1 && maxTier <= 8, s"maxTier must be in [1, 8], got $maxTier")
    val h = conv(
      substring(md5(concat(lit(s"${seed}_"), col(idCol).cast("string"))), 1, 7),
      16,
      10
    ).cast("long")
    // Ascending fold: the outermost `when` tests the deepest tier, so
    // the first matching (largest) k wins.
    val tier = (1 to maxTier).foldLeft(lit(0)) { (acc, k) =>
      val m = math.pow(10, k).toLong
      when(h % m === 0, lit(k)).otherwise(acc)
    }
    df.withColumn("sample_tier", tier.cast("int"))
  }

  /** Salted inner equi-join for skewed keys. The left (large, skewed)
    * side gets a deterministic salt from its non-key columns; the right
    * side is replicated `salts` times. Result equals the plain join, but
    * each hot key spreads over `salts` reducers.
    *
    * Prefer AQE's skew-split when it applies (sort-merge joins); salting
    * still wins for skewed hash aggregations and broadcast-ineligible
    * plans, so the engine exposes it explicitly.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salts: Int
  ): DataFrame = {
    val saltedLeft = left.withColumn(
      "__salt",
      pmod(hash(left.columns.toIndexedSeq.map(col): _*), lit(salts))
    )
    val saltedRight = right
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft
      .join(saltedRight, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** PageRank to convergence — the parameterized generalization of the
    * fixed-2-iteration q84. `edges` must list every node as a `src`
    * (i.e. the undirected expansion q84 builds: each pair contributes
    * both directions), so there are no dangling nodes and the rank mass
    * fixed point is exactly n (Σr = 0.15·n + 0.85·Σr ⇒ Σr = n, which
    * ScaleSpec asserts). The contract is CHECKED, not assumed: a `dst`
    * that never appears as a `src` has no out-degree, so the mass it
    * receives would silently vanish next round — that input is rejected
    * up front (one anti-join count) instead of producing quietly wrong
    * ranks. That check is one extra pass over the edge list; at 100 TB
    * a caller whose edges come from a producer that already guarantees
    * the expansion (q84's builder does) can skip it with
    * `checkContract = false` — correctness then rests on the caller's
    * guarantee, which is the honest trade at that scale, not a silent
    * one. The node set is carried by `deg`, and each round RIGHT-joins
    * the contribution sum onto it, so a node nothing points at keeps its
    * `1 − damping` base rank rather than disappearing from the rank
    * table (and from the convergence probe) after round one.
    *
    * Each round is one keyed join + aggregate; contributions are
    * integer-scaled (`floor(r/deg · 2^30)`) before the incoming sum so
    * the result is order/partitioning-independent (q84's determinism
    * contract). The convergence probe is a 1-row max-delta aggregate per
    * round — a bounded action, and the per-round `localCheckpoint`
    * truncates the growing lineage that would otherwise make round i
    * re-execute rounds 1..i-1 (the q36 connected-components pattern; on
    * a cluster, checkpoint to durable storage instead).
    *
    * Returns (ranks `(src, r)`, roundsRun, converged).
    */
  def pageRank(
      edges: DataFrame,
      maxIters: Int,
      tol: Double,
      damping: Double = 0.85,
      checkContract: Boolean = true
  ): (DataFrame, Int, Boolean) = {
    require(maxIters > 0 && tol >= 0.0, "maxIters must be positive, tol non-negative")
    val s = 1073741824L // 2^30
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint()
    if (checkContract) {
      val danglingDsts = e.select(col("dst").as("src")).distinct()
        .join(deg, Seq("src"), "left_anti").count()
      require(
        danglingDsts == 0,
        s"$danglingDsts dst node(s) never appear as src — pass the undirected " +
          "expansion (both edge directions) so no node's incoming mass is dropped"
      )
    }
    def iterate(ranks: DataFrame): DataFrame = {
      val contribs = e.join(ranks, Seq("src"))
        .join(deg, Seq("src"))
        .select(
          col("dst"),
          floor(col("r") / col("deg") * lit(s.toDouble)).cast("long").as("contrib")
        )
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(col("dst").as("src"), col("in_sum"))
      deg.select(col("src"))
        .join(contribs, Seq("src"), "left")
        .select(
          col("src"),
          (lit(1 - damping) + lit(damping) *
            (coalesce(col("in_sum"), lit(0L)).cast("double") / lit(s.toDouble))).as("r")
        )
    }
    var ranks = deg.select(col("src"), lit(1.0).as("r")).localCheckpoint()
    var rounds = 0
    var delta = Double.MaxValue
    while (rounds < maxIters && delta > tol) {
      val next = iterate(ranks).localCheckpoint()
      val probe = ranks
        .join(next.select(col("src"), col("r").as("r2")), Seq("src"))
        .agg(max(abs(col("r") - col("r2"))))
        .collect()(0)
      // Empty graph: the max over zero rows is null — converged trivially.
      delta = if (probe.isNullAt(0)) 0.0 else probe.getDouble(0)
      ranks = next
      rounds += 1
    }
    (ranks, rounds, delta <= tol)
  }
}

/** End-to-end deduplication facade over the documents shape: exact and
  * near-duplicate removal with a deterministic keep rule.
  */
object Dedup {

  /** Maximal islands of consecutive duplicated shingle positions merged
    * into inclusive token extents: input `(doc_id, pos)` — the positions
    * whose 3-gram shingle is duplicated — output
    * `(doc_id, start_pos, end_pos, n_tokens)` where a 3-gram at position
    * p covers tokens [p, p+2]. The classic `pos - row_number` island
    * trick; integer arithmetic only. Shared by the batch extent query
    * (q101/q104) and [[Maintenance.incrementalDupSpans]]; per-doc window
    * state is one running rank, and only duplicated positions (a small
    * corpus fraction) reach it.
    */
  def extentsFromDupPositions(dup: DataFrame): DataFrame = {
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
    dup
      .withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_sh"))
      .select(
        col("doc_id"),
        col("start_pos"),
        (col("end_sh") + 2).as("end_pos"),
        (col("end_sh") + 3 - col("start_pos")).cast("long").as("n_tokens")
      )
  }

  /** Span-level cleaning: cut every token covered by a duplicated
    * extent, keep the doc. `extents` is `(doc_id, start_pos, end_pos,
    * …)` (inclusive token positions — [[extentsFromDupPositions]]'s
    * shape, already min-token-filtered by the caller); docs with no
    * extents pass through untouched (left join + the coalesce). The
    * per-token HOF is O(tokens × extents-in-doc) — extents per doc are
    * few after the island merge, and the alternative (posexplode +
    * range join + re-agg) shuffles the whole corpus twice. Returns
    * `(doc_id, n_removed_tokens, clean_text)`. Shared by the batch
    * q104 query and the incremental curation path.
    */
  def spanClean(docs: DataFrame, idCol: String, textCol: String, extents: DataFrame): DataFrame = {
    val ext = extents
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("start_pos"), col("end_pos")))).as("exts")
      )
      .withColumnRenamed("doc_id", idCol)
    val toks = split(col(textCol), "\\s+")
    val kept = filter(
      toks,
      (t, i) =>
        coalesce(
          !exists(col("exts"), x => i >= x("start_pos") && i <= x("end_pos")),
          lit(true)
        )
    )
    docs
      .join(ext, Seq(idCol), "left")
      .select(
        col(idCol),
        (size(toks) - size(kept)).cast("long").as("n_removed_tokens"),
        array_join(kept, " ").as("clean_text")
      )
  }

  /** Exact dedup: keep the smallest id per identical content.
    *
    * ONE pass: a row_number over the content-hash groups (bounded —
    * a group is the copy count of one text). The previous
    * agg-plus-semi-join form read `docs` TWICE in one plan (Catalyst
    * does not share the subtree between the agg side and the join
    * side), which doubled every expensive upstream — q108's
    * dedup-ingest probe ran its prior-index anti-join twice per
    * batch, q86 its quality gate. Same kept rows (ids are unique in
    * every caller — enforced upstream by the batch/corpus contracts).
    */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
      .orderBy(col(idCol))
    docs
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Connected components over a near-dup pair table (doc_a < doc_b):
    * returns (id, component) where component is the minimum doc id
    * reachable through pair edges — the transitive-closure dup cluster,
    * vs. [[dropNearDups]]'s one-hop greedy rule.
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors; converges in
    * graph-diameter rounds (dup clusters are shallow in practice —
    * large-star/small-star would cut rounds further on deep graphs).
    * The driver loop only CONTROLS iteration — labels/edges stay
    * distributed.
    *
    * Per round, exactly ONE distributed job: the new label table is
    * materialized via eager `localCheckpoint`, which both cuts plan
    * lineage (otherwise it grows linearly in rounds — replanning cost
    * and eventual stack overflows on deep iteration) and lets the
    * convergence check — a `changed` flag folded into the propagation
    * select — run as a cheap scan of the checkpointed blocks instead of
    * re-executing the round.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // Pin the PAIR table once before fanning out: `edges` reads it in
    // BOTH union branches and Catalyst does not share the common
    // subtree across them, so an unpinned pair chain (q21's
    // shingle/LSH/verify cascade behind q36/q145/q170/q141) executed
    // twice inside the first materialization. The pin holds two id
    // columns — never text. `edges` STAYS persist()-cached on top of
    // the pin: an InMemoryRelation carries real size statistics, which
    // is what lets the planner broadcast the edge side of every
    // round's join — a bare localCheckpoint reports the default
    // (huge) sizeInBytes and the rounds regressed to shuffled joins
    // (measured: q141 2.0 -> 4.0 s with the pin alone).
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(
          labels.withColumnRenamed("id", "nid").withColumnRenamed("comp", "ncomp0"),
          col("dst") === col("nid")
        )
        .groupBy(col("src"))
        .agg(min(col("ncomp0")).as("ncomp"))
      val next = labels
        .join(neighborMin, col("id") === col("src"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (col("comp") > coalesce(col("ncomp"), col("comp"))).cast("long").as("changed")
        )
        .localCheckpoint() // eager: the round's one job; lineage cut here
      val changedRow = next.agg(sum(col("changed"))).first()
      converged = changedRow.isNullAt(0) || changedRow.getLong(0) == 0L
      labels = next.drop("changed")
    }
    edges.unpersist()
    // Superseded round pins (and `p`) are reclaimed by the
    // ContextCleaner once unreferenced — Dataset.unpersist cannot
    // release a localCheckpoint (it only talks to the CacheManager).
    labels
  }

  /** Connected components via alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", 2014) — converges in O(log² n) rounds regardless of
    * graph DIAMETER, where [[connectedComponents]]' min-label
    * propagation needs diameter rounds. Dup clusters are shallow, so
    * propagation is the default there; this is the escalation for deep
    * or adversarial graphs (long chains), and returns identical labels.
    *
    * Each round is two keyed groupBy+join stages (large-star hooks
    * every node's larger neighbors to its neighborhood min; small-star
    * re-hooks the smaller ones), one union-groupBy convergence check on
    * the DISTINCT edge set, and one `localCheckpoint` lineage cut. At
    * the fixpoint the edge set is a star per component centered on its
    * minimum id.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    var e = pairs
      .select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v")
      )
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var converged = false
    while (!converged) {
      // Large-star: over BOTH directions, m(u) = min({u} ∪ Γ(u));
      // emit (v, m(u)) for every neighbor v > u.
      val nb = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mL = nb
        .groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = nb
        .join(mL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // Small-star: direct each edge to its larger endpoint,
      // m(u) = min(N⁻(u) ∪ {u}); emit (n, m) for n ∈ N⁻(u) ∪ {u}, n ≠ m.
      val dir = ls.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mS = dir
        .groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ss = dir
        .join(mS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("n"), col("m"))
        .unionAll(mS.filter(col("u") =!= col("m")).select(col("u").as("n"), col("m")))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint()
      // One-job symmetric-difference check on the two distinct edge sets.
      converged = ss
        .unionAll(e)
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") === 1)
        .isEmpty
      e = ss
    }
    e.select(col("u").as("id"), col("v").as("comp"))
      .unionAll(e.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Near-dup removal given a pair table (doc_a < doc_b): drop every doc
    * that appears as the larger id of a near-dup pair. Deterministic and
    * one pass — the transitive-closure variant (connected components)
    * would iterate label propagation; the greedy rule is the common
    * training-data-pipeline choice and keeps ≥1 doc per dup cluster.
    */
  def dropNearDups(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String
  ): DataFrame =
    docs.join(
      pairs.select(col("doc_b").as(idCol)).distinct(),
      Seq(idCol),
      "left_anti"
    )

  /** Quality-aware near-dup survivor selection: keep the BEST doc of
    * every near-dup cluster instead of [[dropNearDups]]' greedy
    * smaller-id rule. Production pipelines keep the longest / cleanest
    * / highest-quality copy of a duplicated page, not an arbitrary
    * one — the survivor here is the cluster's argmax of `scoreCol`,
    * ties broken to the smaller id (so the choice is total and
    * deterministic). Returns every input doc labeled
    * `(idCol, component, scoreCol, keep)` — the caller filters
    * `keep` for the survivors or audits the dropped copies.
    *
    * `scoreCol` must be non-null (a null score would sort below every
    * real one inside the argmax struct and silently never win —
    * coalesce upstream if the quality signal is sparse).
    *
    * Scale shape: components over the LSH-bounded PAIR table (as
    * [[leakageFreeSplit]]); then ONE per-component agg of a
    * `max(struct(score, -id))` argmax (map-side partial, O(docs) →
    * O(clusters)) joined back on the component key — the agg and the
    * join share the component partitioning, no text columns move, no
    * window over an unbounded partition.
    */
  def keepBestOfCluster(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    Preference.requireNumericId(docs, idCol, "keepBestOfCluster")
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    // Pinned: `labeled` feeds BOTH the per-component argmax and the
    // join back, and Catalyst does not share the common subtree — an
    // unpinned `docs` side (q145 derives its score with a full-text
    // tokenize) executed twice per action. Slim rows only (id, score,
    // component).
    val labeled = docs
      .select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .localCheckpoint()
    val best = labeled
      .groupBy(col("component"))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id"))).as("b")
      )
      .select(col("component"), (-col("b")("neg_id")).as("__best_id"))
    labeled
      .join(best, Seq("component"), "inner")
      .withColumn("keep", col(idCol) === col("__best_id"))
      .select(col(idCol), col("component"), col(scoreCol), col("keep"))
  }

  /** LEAKAGE-FREE train/heldout split: assign documents to splits at
    * near-dup CLUSTER granularity, so no near-duplicate pair ever
    * straddles the boundary. Splitting uniformly at the document level
    * leaks: a heldout doc's near-duplicate lands in train with
    * probability ≈ train fraction, and the heldout set then measures
    * memorization, not generalization — the published cure is dedup
    * BEFORE split or, equivalently, split by cluster (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better").
    *
    * `pairs` is a near-dup pair table (`doc_a`, `doc_b`); every doc in
    * `docs` gets `component` = its connected-component label under
    * those pairs (its own id when unpaired — singletons are their own
    * cluster) and `split` = "heldout" when
    * `hash(seed, component) % 1000 < heldoutPerMille`, else "train".
    * Hashing the COMPONENT (not the doc) is the leakage-free
    * guarantee: a cluster's docs share the label, so they share the
    * side. The hash is the engine's portable md5-prefix (the layout's
    * shuffle-order hash), so the split is deterministic across runs,
    * partitionings, and engines — re-running on a grown corpus moves
    * no existing SINGLETON doc across sides (its component is its own
    * id), and clusters move only if dedup re-links them, which is
    * exactly when a re-split is semantically required.
    *
    * Scale shape: connected components runs over the PAIR table
    * (bounded by near-dup density — LSH-bucketed upstream, never
    * all-pairs); the docs side joins the label table keyed on the id
    * (left join, O(docs) rows each side, no text); the hash and
    * threshold are per-row projections. No collects, no global sort.
    */
  def leakageFreeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      heldoutPerMille: Int,
      seed: String
  ): DataFrame = {
    require(
      heldoutPerMille >= 0 && heldoutPerMille <= 1000,
      s"heldoutPerMille must be in [0, 1000], got $heldoutPerMille"
    )
    val comp = Dedup
      .connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    docs
      .select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn(
        "split",
        when(
          conv(
            substring(md5(concat(lit(s"${seed}_"), col("component").cast("string"))), 1, 7),
            16,
            10
          ).cast("long") % 1000 < heldoutPerMille,
          lit("heldout")
        ).otherwise(lit("train"))
      )
  }

  /** Duplication PROFILE — the governance histogram of near-dup
    * cluster sizes: per cluster size k, how many clusters, how many
    * documents that is, and the micro-share of the corpus — "how much
    * of my data sits in duplicate clusters, and how big are they".
    * The number a dedup policy decision starts from (keep-one drops
    * `n_docs − n_components` documents at each k), and the trend a
    * crawl-health dashboard watches across snapshots.
    *
    * Clusters are connected components of the pair table (the
    * transitive near-dup closure); unpaired docs are their own
    * size-1 cluster, so the histogram partitions the corpus exactly:
    * `Σ n_docs == |docs|` by construction.
    *
    * Scale shape: components over the BOUNDED pair table (never the
    * corpus), one left join keyed on the id, two keyed aggs
    * (component → size, size → histogram), and the share divides by
    * a 1-row broadcast total. No text moves anywhere.
    */
  def dupProfile(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val sizes = docs
      .select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol)))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    // Pinned: `hist` is read twice in one plan (the output rows AND the
    // broadcast total it is crossed with) — unpinned, the docs-side join
    // and both aggs executed twice per action. A few rows (one per
    // distinct cluster size).
    val hist = sizes
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("cluster_size") * col("n_components"))
      .localCheckpoint()
    hist
      .crossJoin(broadcast(hist.agg(sum(col("n_docs")).as("__total"))))
      .withColumn("share_micro", expr("(1000000L * n_docs) div __total"))
      .drop("__total")
  }

  /** Benchmark decontamination over TWO corpora — the operational form
    * of `q129_decontam_purge` (which demos the rule on an in-corpus
    * parity split): per-train-doc count/fraction of its distinct
    * 3-gram shingles present anywhere in the eval corpus, with the
    * purge verdict at `threshold`. Returns
    * `(idCol, n_sh, n_overlap, overlap_frac, contaminated)` for every
    * train doc with ≥1 overlapping shingle; the caller left-antis the
    * contaminated ids away (or audits the sub-threshold tail).
    *
    * Scale shape: the eval corpus is a benchmark — thousands of docs
    * against a 100 TB train side — so its distinct shingle set is
    * broadcast into a LEFT SEMI probe: the train explode streams
    * map-side, one surviving row per matching (doc, shingle)
    * regardless of eval-side fan-out, and the only shuffle is the
    * O(overlap) per-doc count. Same plan as the q129 lock.
    */
  def decontamPurge(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): DataFrame =
    decontamPurgeAgainst(
      train,
      evalShingles(evalDocs, textCol),
      idCol,
      textCol,
      threshold
    )

  /** The eval corpus' distinct shingle set — the probe artifact. Split
    * out so a long-running consumer (the `decontam_stream` verb) can
    * compute it ONCE, pin it, and probe every arriving batch against
    * the pinned copy instead of re-deriving it per micro-batch.
    */
  def evalShingles(evalDocs: DataFrame, textCol: String): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    evalDocs
      .filter(size(toks) >= 3)
      .withColumn("__sh", graft.functions.GraftFunctions.graft_shingles(toks))
      .select(explode(col("__sh")).as("shingle"))
      .distinct()
  }

  /** [[decontamPurge]] against a precomputed [[evalShingles]] table. */
  def decontamPurgeAgainst(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5
  ): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    train
      .filter(size(toks) >= 3)
      .withColumn("__sh", graft.functions.GraftFunctions.graft_shingles(toks))
      .select(col(idCol), size(col("__sh")).as("n_sh"), explode(col("__sh")).as("shingle"))
      .join(broadcast(evalSet), Seq("shingle"), "left_semi")
      .groupBy(col(idCol), col("n_sh"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("overlap_frac", col("n_overlap").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** Multi-column decontamination verdict: the distinct `keyCols`
    * rows of `df` where ANY of the named `textCols` has shingle
    * containment ≥ `threshold` against the eval set — the PAIR-level
    * contract a rendered-triple export needs ([[decontamPurge]]'s
    * per-member metric, q152's any-member drop rule): a DPO pair is
    * poisoned when the eval text leaked into its prompt, its chosen
    * response, OR its rejected response; the member whose own shingle
    * set is substantially contained denominates its own containment
    * (so a short eval prompt pasted into one member still fires, and
    * a long clean prompt does not dilute a contaminated response).
    *
    * Scale shape: the member columns stack as a UNION of projections
    * (|textCols| × rows, no shuffle — each leg is a scan-side
    * projection of the same table), shingles explode per member, and
    * the eval side is the [[evalShingles]] broadcast — one broadcast
    * semi-join plus one (key, member)-keyed count, never an all-pairs
    * or eval-sized shuffle. At 100 TB of triples the eval set is
    * benchmark-sized and pinned; the verdict is one map-side pass.
    */
  def contaminatedAnyOf(
      df: DataFrame,
      evalSet: DataFrame,
      keyCols: Seq[String],
      textCols: Seq[String],
      threshold: Double = 0.5
  ): DataFrame = {
    // __member keys the verdict agg: two members of one pair with
    // equal shingle-set sizes must NOT pool their overlaps (a merged
    // group would inflate containment past what either member earns)
    val stacked = textCols
      .map(c =>
        df.select(
          keyCols.map(col) :+ lit(c).as("__member") :+ col(c).cast("string").as("__txt"): _*))
      .reduce(_ unionByName _)
    val toks = split(col("__txt"), "\\s+")
    stacked
      .filter(size(toks) >= 3)
      .withColumn("__sh", graft.functions.GraftFunctions.graft_shingles(toks))
      .select(
        keyCols.map(col) :+ col("__member") :+
          size(col("__sh")).as("n_sh") :+ explode(col("__sh")).as("shingle"): _*)
      .join(broadcast(evalSet), Seq("shingle"), "left_semi")
      .groupBy(keyCols.map(col) :+ col("__member") :+ col("n_sh"): _*)
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap").cast("double") / col("n_sh") >= threshold)
      .select(keyCols.map(col): _*)
      .distinct()
  }

  /** [[contaminatedAnyOf]] applied: `df` minus the rows whose key is
    * contaminated in any text column — one broadcast-verdict pass +
    * one key-level anti-join. `evalDocs` is raw `(…, textColEval)`
    * text; the shingle probe set derives once via [[evalShingles]].
    */
  def purgeAnyOf(
      df: DataFrame,
      evalDocs: DataFrame,
      keyCols: Seq[String],
      textCols: Seq[String],
      textColEval: String,
      threshold: Double = 0.5
  ): DataFrame =
    df.join(
      contaminatedAnyOf(df, evalShingles(evalDocs, textColEval), keyCols, textCols, threshold),
      keyCols,
      "left_anti"
    )

  /** Per-doc distinct 3-gram shingle sets `(idCol, sh_ints)` — the
    * input shape [[decontamFuzzyAgainst]] consumes on both sides.
    * Split out so a caller holding a precomputed/memoized shingle
    * table skips the re-derivation (the q133 query path).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    docs
      .filter(size(toks) >= 3)
      .select(col(idCol), graft.functions.GraftFunctions.graft_shingles(toks).as("sh_ints"))
      .filter(size(col("sh_ints")) > 0)
  }

  /** FUZZY decontamination: flag train docs that are MinHash-LSH
    * near-duplicates (verified whole-set shingle-Jaccard ≥ `threshold`)
    * of a SINGLE eval document — the high-precision, pair-ATTRIBUTED
    * complement to [[Scale.decontamPurge]]. The pooled-overlap purge is
    * the high-recall side and mathematically dominates this one
    * (overlap_frac measures against the train doc's shingles alone, so
    * it is ≥ any single-item Jaccard at the same threshold), but it
    * cannot say WHICH eval item leaked and it over-fires on docs that
    * assemble common shingles from MANY different eval items without
    * resembling any one of them. This is the verified benchmark-overlap
    * report the purge's audit tail gets triaged with: per train doc,
    * how many eval items it collided with, how many it genuinely
    * near-duplicates, and the worst verified similarity.
    *
    * Returns one row per train doc with ≥ 1 band collision against the
    * eval side: `(idCol, n_cand, n_matched, max_jaccard, contaminated)`
    * — `n_cand` distinct eval candidates, `n_matched` those verified at
    * ≥ `threshold`, `contaminated` = max_jaccard ≥ threshold.
    * Sub-threshold rows stay visible as the audit tail (q129's
    * convention); the caller left-antis the contaminated ids away.
    */
  def decontamFuzzy(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      nHashes: Int = 16,
      bandRows: Int = 4
  ): DataFrame =
    decontamFuzzyAgainst(
      shingleSets(train, idCol, textCol),
      shingleSets(evalDocs, idCol, textCol),
      idCol,
      threshold,
      nHashes,
      bandRows
    )

  /** [[decontamFuzzy]] against precomputed `(idCol, sh_ints)` shingle
    * tables (see [[shingleSets]]).
    *
    * Scale shape: the eval corpus is benchmark-sized (thousands of
    * docs vs a 100 TB train side), so BOTH its band table and its
    * shingle sets ride broadcasts and every corpus-sized stage is
    * map-side: the train side derives minhash bands and probes the
    * broadcast eval bands (broadcast hash join — never an all-pairs or
    * sort-merge shape), the surviving collision rows carry the train
    * shingle array with them (no second corpus scan or join to fetch
    * it), and verification Jaccard runs against the broadcast eval
    * sets. The only shuffles are the two O(collision) aggregates:
    * band-multiplicity dedup per (train, eval) pair, then the per-train
    * -doc verdict. Candidacy is band-key equality over `nHashes /
    * bandRows` bands of `bandRows` rows (q22's discipline) — collision
    * count is bounded by true near-dup density plus the banding false-
    * positive rate, not |train| × |eval|.
    */
  def decontamFuzzyAgainst(
      trainSh: DataFrame,
      evalSh: DataFrame,
      idCol: String,
      threshold: Double = 0.5,
      nHashes: Int = 16,
      bandRows: Int = 4
  ): DataFrame =
    decontamFuzzyPinned(
      trainSh,
      // Eval side is bounded: one eager pin, reused by the band
      // broadcast and the verification broadcast.
      evalSh.select(col(idCol), col("sh_ints")).localCheckpoint(),
      idCol,
      threshold,
      nHashes,
      bandRows
    )

  /** [[decontamFuzzyAgainst]] with the eval shingle table ALREADY
    * pinned — the long-running-consumer form: a stream gate pins the
    * benchmark once at stream start and probes every arriving batch
    * against the same blocks instead of re-materializing the eval side
    * per micro-batch (the `evalShingles`/`decontamPurgeAgainst` split,
    * for the fuzzy side).
    */
  def decontamFuzzyPinned(
      trainSh: DataFrame,
      evalShPinned: DataFrame,
      idCol: String,
      threshold: Double = 0.5,
      nHashes: Int = 16,
      bandRows: Int = 4
  ): DataFrame = {
    require(
      nHashes > 0 && bandRows > 0 && nHashes % bandRows == 0,
      s"nHashes ($nHashes) must be a positive multiple of bandRows ($bandRows)"
    )
    def banded(sh: DataFrame, outId: String, keepSets: Boolean): DataFrame = {
      val base = sh
        .select(col(idCol).as(outId), col("sh_ints"))
        .withColumn("sig", graft.functions.GraftFunctions.graft_minhash(col("sh_ints"), nHashes))
        .select(
          col(outId),
          col("sh_ints"),
          explode(
            transform(
              sequence(lit(0), lit(nHashes / bandRows - 1)),
              b =>
                struct(
                  b.as("band"),
                  array_join(
                    transform(slice(col("sig"), b * bandRows + 1, lit(bandRows)), _.cast("string")),
                    "_"
                  ).as("band_key")
                )
            )
          ).as("bk")
        )
      val cols = Seq(col(outId), col("bk.band"), col("bk.band_key")) ++
        (if (keepSets) Seq(col("sh_ints")) else Nil)
      base.select(cols: _*)
    }
    val ev = evalShPinned.select(col(idCol).as("__eval_id"), col("sh_ints"))
    val collisions = banded(trainSh, "__train_id", keepSets = true)
      .join(broadcast(banded(ev.withColumnRenamed("__eval_id", idCol), "__eval_id", keepSets = false)), Seq("band", "band_key"))
      .select(col("__train_id"), col("__eval_id"), col("sh_ints").as("sh_a"))
    val pairs = collisions
      .groupBy(col("__train_id"), col("__eval_id"))
      .agg(first(col("sh_a")).as("sh_a")) // band multiplicity collapsed; sh_a identical per pair
      .join(broadcast(ev.select(col("__eval_id"), col("sh_ints").as("sh_b"))), Seq("__eval_id"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
    pairs
      .groupBy(col("__train_id"))
      .agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_matched"),
        max(col("jaccard")).as("max_jaccard")
      )
      .withColumn("contaminated", col("max_jaccard") >= threshold)
      .select(
        col("__train_id").as(idCol),
        col("n_cand"),
        col("n_matched"),
        col("max_jaccard"),
        col("contaminated")
      )
  }

  /** SEMANTIC decontamination — the third tier of the family (exact
    * shingle overlap → lexical near-dup → embedding similarity): per
    * TRAIN vector, its best-cosine eval match and the verdict at
    * `threshold`. Catches what both lexical tiers miss — an eval item
    * translated, aggressively paraphrased, or templated into the crawl
    * shares almost no 3-gram shingles yet sits next to its source in
    * embedding space (the SemDeDup observation, pointed at a held-out
    * benchmark instead of the corpus itself).
    *
    * Unlike the lexical tiers this emits one row per train vector
    * (dense similarity always has a best match): `(idCol,
    * best_eval_id, best_cosine, contaminated)` — the full similarity
    * audit; the caller filters at the verdict to purge.
    *
    * Scale shape: the eval matrix is benchmark-sized, so it rides as
    * [[graft.functions.ArgmaxCosine]] CONSTRUCTOR state — one compiled
    * K×dim loop per train row inside whole-stage codegen, zero N×K row
    * materialization (the q26/assignTo discipline; a broadcast cross
    * join carrying both embedding arrays per candidate row was
    * measured 7-10× slower at the 100k×316 stress point) — and the
    * single winning cosine is computed by joining the broadcast eval
    * table ONCE on the argmax id: exactly two dot products per train
    * row at any eval size. Ties break toward the smaller eval id
    * (strict `>` over ascending ids). Zero-norm embeddings on either
    * side fail loudly — a NaN cosine would silently never win.
    */
  def decontamSemantic(
      train: DataFrame,
      evalVecs: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double = 0.5
  ): DataFrame =
    semanticProbe(evalVecs, idCol, embCol, threshold)(train)

  /** [[decontamSemantic]] with the eval matrix resolved ONCE — returns
    * the probe as a closure a long-running consumer applies per batch:
    * the collected matrix (the argmax constructor state) and the pinned
    * winning-row table are built here and reused across every
    * application, so a stream gate pays the eval collect exactly once
    * at stream start (the family's pinned-benchmark discipline).
    */
  def semanticProbe(
      evalVecs: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double = 0.5
  ): DataFrame => DataFrame = {
    def normed(df: DataFrame, outId: String): DataFrame = {
      val emb = col(embCol).cast("array<double>")
      df.select(col(idCol).as(outId), emb.as("emb"))
        .withColumn("nrm", sqrt(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb"))))
    }
    val evPinned = normed(evalVecs, "best_eval_id").localCheckpoint()
    val evRows = evPinned
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(evRows.nonEmpty, "decontamSemantic needs a non-empty eval set")
    evRows.foreach { case (id, _, n) =>
      require(n > 0.0, s"zero-norm eval embedding $idCol=$id — its cosine is NaN and never wins")
    }
    val evDf = evPinned
      .select(col("best_eval_id"), col("emb").as("ev_emb"), col("nrm").as("ev_nrm"))
    (train: DataFrame) =>
      normed(train, idCol)
        .withColumn(
          "best_eval_id",
          when(
            col("nrm") > 0,
            graft.functions.GraftFunctions.graft_argmax_cos(
              col("emb"),
              col("nrm"),
              evRows.map(_._1).toSeq,
              evRows.map(_._2).toSeq,
              evRows.map(_._3).toSeq
            )
          ).otherwise(raise_error(concat(lit(s"zero-norm embedding $idCol="), col(idCol).cast("string"))))
        )
        .join(broadcast(evDf), Seq("best_eval_id"))
        .withColumn(
          "best_cosine",
          graft.functions.GraftFunctions.graft_dot(col("emb"), col("ev_emb")) / (col("nrm") * col("ev_nrm"))
        )
        .withColumn("contaminated", col("best_cosine") >= threshold)
        .select(col(idCol), col("best_eval_id"), col("best_cosine"), col("contaminated"))
  }
}
