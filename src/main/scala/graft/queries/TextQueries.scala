package graft.queries

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table: exact dedup,
  * quality stats, language ID, fingerprinting, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash.
  *
  * Cross-engine determinism rules (shared with the DuckDB oracles):
  *   - Token hash = first 7 hex chars of md5 → 28-bit int. Small enough
  *     that every product/sum stays well inside int64 in BOTH engines
  *     (DuckDB errors on overflow; Java wraps — so we must never rely on
  *     wraparound).
  *   - Sequential left folds only (`aggregate` in Spark, `list_reduce`
  *     in DuckDB) when folding doubles or modular hashes.
  *   - All ratios divide exact integers — one IEEE division each.
  *
  * Scale posture: every operator here is a narrow projection + per-row
  * HOF chain (codegen'd, no shuffle) feeding at most one groupBy/join on
  * a key we choose. The pairwise near-dup operators go through an
  * inverted index (explode + equi-join) rather than a cross join, so
  * candidate generation is bounded by shingle document-frequency, and a
  * df-cap can drop ultra-common shingles at 100 TB (documented inline).
  */
object TextQueries {

  /** The local documents file is small enough to arrive as one input
    * split, which would serialize every CPU-heavy per-row stage onto one
    * core. Repartition ONLY in that under-parallel case: on a real
    * 100 TB corpus the scan already yields thousands of splits and an
    * unconditional `repartition` would round-robin-shuffle the entire
    * raw text — so the gate below makes the fix strictly local. (The
    * conf-level alternative is lowering
    * `spark.sql.files.maxPartitionBytes` so the scan itself splits
    * finer.)
    */
  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val raw = Parquet.read(spark, s"$dir/documents.parquet")
    val want = spark.sparkContext.defaultParallelism
    if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
  }

  /** Whitespace tokens — matches DuckDB `regexp_split_to_array(text,'\s+')`. */
  private def tokens(c: Column): Column = split(c, "\\s+")

  /** 28-bit integer hash of a string via md5 (deterministic everywhere). */
  private def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  // ---------------------------------------------------------------- //

  /** Exact deduplication: group identical texts by content hash, keep the
    * minimum doc_id as the representative. One shuffle on the hash.
    */
  def q17DedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Quality scoring: char/token counts, BPE-ish token count, average
    * token length, stopword ratio, uppercase ratio, and a composite
    * quality score in [0,1]. Pure per-row projection — no shuffle.
    */
  def q18TextStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin("the", "a", "and", "of")))
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nBpe = size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
    d.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      nTok.as("n_tokens"),
      nBpe.as("n_bpe_tokens"),
      (sumLen.cast("double") / nTok).as("avg_token_len"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      when(nTok >= 10 && (nStop.cast("double") / nTok) > 0.0, 1.0)
        .otherwise(0.5)
        .as("quality_score")
    )
  }

  /** Language ID: stopword-profile scoring with a deterministic argmax
    * (explicit priority chain on ties, mirrored in the oracle).
    */
  def q19LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def score(markers: Seq[String]): Column =
      size(filter(tokens(col("text")), t => t.isin(markers: _*)))
    val sEn = score(Seq("the", "a", "and", "of"))
    val sEs = score(Seq("el", "la", "los", "de"))
    val sFr = score(Seq("le", "la", "les", "de"))
    val sDe = score(Seq("der", "die", "das", "und"))
    d.select(
      col("doc_id"),
      col("lang").as("declared_lang"),
      when(sEn >= sEs && sEn >= sFr && sEn >= sDe, "en")
        .when(sEs >= sFr && sEs >= sDe, "es")
        .when(sFr >= sDe, "fr")
        .otherwise("de")
        .as("predicted_lang"),
      sEn.as("score_en")
    )
  }

  /** Document fingerprinting: md5 of normalized text + a 31-base rolling
    * (polynomial) hash over 28-bit token hashes, mod 2^31-1. The fold is
    * sequential and every intermediate < 2^36, so both engines compute
    * identical values without overflow.
    */
  def q20Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val p = lit(2147483647L)
    val rolling = aggregate(
      transform(tokens(norm), t => h28(t)),
      lit(0L),
      (acc, x) => (acc * 31 + x) % p
    )
    d.select(
      col("doc_id"),
      md5(norm).as("md5_fingerprint"),
      rolling.as("rolling_fingerprint")
    )
  }

  /** Distinct word-3-gram shingle HASHES per doc, used by the Jaccard
    * and MinHash operators. Tokens are hashed once (28-bit md5 ints) and
    * 3-grams combine arithmetically — one md5 per token instead of one
    * md5 over every built shingle string, and downstream joins compare
    * longs, not strings. The polynomial combine keeps every intermediate
    * < 2^45 (no overflow in either engine); the oracle mirrors the exact
    * op order.
    *
    * Guard: Spark's sequence(1, n) DESCENDS when n < 1, so short texts
    * short-circuit to an empty array.
    */
  private[graft] def withShingles(d: DataFrame): DataFrame = {
    // The shingle stage is the native codegen'd
    // [[graft.functions.ShingleHashes]] (`graft_shingles`): one compiled
    // pass hashing each token and rolling the 3-gram window, replacing
    // the five-operator interpreted HOF chain (see [[withShinglesHof]],
    // kept for the equivalence spec). Being a single expression subtree
    // it is also immune to the predicate-pushdown inlining trap the HOF
    // form had to dodge with zip_with-over-slices. The cheap token-count
    // pre-filter replaces the empty-shingles guard (tokens>=3 ⟺
    // shingles non-empty).
    val toks = tokens(col("text"))
    d.filter(size(toks) >= 3)
      .withColumn("sh_ints", graft.functions.GraftFunctions.graft_shingles(toks))
  }

  /** The interpreted HOF form of [[withShingles]] — the reference
    * semantics the native expression must match bit-for-bit
    * (TextOpsSpec) and the shape the DuckDB oracle mirrors in SQL.
    * zip_with over three slices (not element_at-per-index) because a
    * pushed-down predicate inlines projected expressions into every
    * reference — the measured 11× trap documented in SCALE.md.
    */
  private[graft] def withShinglesHof(d: DataFrame): DataFrame = {
    val p = lit(2147483647L)
    val toks = tokens(col("text"))
    d.filter(size(toks) >= 3)
      .withColumn("__th", transform(toks, t => h28(t)))
      .withColumn(
        "sh_ints",
        array_distinct(
          zip_with(
            zip_with(
              slice(col("__th"), lit(1), size(col("__th")) - 2),
              slice(col("__th"), lit(2), size(col("__th")) - 2),
              (a, b) => (a * 8191 + b) % p
            ),
            slice(col("__th"), lit(3), size(col("__th")) - 2),
            (ab, c) => (ab * 8191 + c) % p
          )
        )
      )
      .drop("__th")
  }

  /** The distinct-shingle table feeds BOTH sides of the q21/q22
    * self-joins and three query entries (q21/q32/q36) — without sharing,
    * the HOF-heavy tokenize+hash+shingle stage recomputes 2-4× per query
    * and once per consuming query. Materialized ONCE per (session, sf
    * dir) via eager `localCheckpoint` (not `persist`: checkpoint blocks
    * don't register with the CacheManager, so repeated bench runs can't
    * leak cache entries or warn, and downstream plans start from the
    * materialized RDD with no lineage).
    *
    * 100 TB posture: this is the "materialize the feature stage"
    * pattern — on a cluster you write the feature table to parquet and
    * read it back (a durable, disk-backed barrier that survives executor
    * loss) rather than hold executor blocks. That path is first-class
    * here: [[materializeFeatures]] writes the shingle + token tables
    * under a state dir and swaps the memo entries to parquet reads, so
    * every consumer (q21/q22/q32/q34/q36/q41/q52/q54/q56, and the
    * span-extent family q101/q102/q104) transparently runs from
    * durable storage.
    *
    * Memo hygiene: keys are `(sessionUUID, dir, kind)` — a stopped
    * session's UUID never collides with a new one (unlike
    * `identityHashCode`, which can be reused after GC) — and the memo is
    * a small LRU, so long-lived multi-session JVMs cannot accumulate
    * unbounded checkpointed RDD references.
    */
  private def sessionKey(spark: SparkSession): String = {
    // SparkSession.sessionUUID is private[sql]; a lazily assigned
    // per-session conf entry gives the same stable, collision-free
    // identity through public API (session confs are per-SQLConf, so
    // cloned sessions get their own id on first touch after a clear).
    val key = "spark.graft.sessionId"
    spark.synchronized {
      spark.conf.getOption(key).getOrElse {
        val id = java.util.UUID.randomUUID().toString
        spark.conf.set(key, id); id
      }
    }
  }

  /** Access-ordered LRU; eviction just drops the DataFrame reference —
    * localCheckpoint blocks are released by the ContextCleaner once the
    * underlying RDD is unreachable, and parquet-backed entries hold no
    * executor state at all. The compute runs inside the lock so two
    * threads can't double-materialize the same feature table.
    */
  private final class FeatureMemo(max: Int) {
    private val m = new java.util.LinkedHashMap[(String, String, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, String), DataFrame]
      ): Boolean = size() > max
    }
    def getOrElseUpdate(k: (String, String, String), v: => DataFrame): DataFrame =
      m.synchronized {
        val cur = m.get(k)
        if (cur != null) cur
        else { val nv = v; m.put(k, nv); nv }
      }
    def put(k: (String, String, String), v: DataFrame): Unit =
      m.synchronized { m.put(k, v); () }
    def invalidate(session: String, dir: String): Unit = m.synchronized {
      val it = m.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 == session && k._2 == dir) it.remove()
      }
    }
    def clear(): Unit = m.synchronized(m.clear())
  }

  private val featureMemo = new FeatureMemo(12)

  /** Test/ops hook: drop every memoized feature table. */
  private[graft] def clearFeatureMemo(): Unit = featureMemo.clear()

  private def shingleTableDf(spark: SparkSession, dir: String): DataFrame =
    withShingles(docs(spark, dir))
      .select(col("doc_id"), col("sh_ints"))
      .withColumn("n_sh", size(col("sh_ints")))

  // (doc_id, token) only — q34 computes its own lang-aware aggregate, so
  // the shared table stays two narrow columns (smaller checkpoint blocks
  // / parquet files than carrying an unused lang per instance).
  private def tokenInstancesDf(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))

  private def shingleTable(spark: SparkSession, dir: String): DataFrame =
    featureMemo.getOrElseUpdate(
      (sessionKey(spark), dir, "shingles"),
      shingleTableDf(spark, dir).localCheckpoint()
    )

  private[graft] def tokenInstances(spark: SparkSession, dir: String): DataFrame =
    featureMemo.getOrElseUpdate(
      (sessionKey(spark), dir, "tokens"),
      tokenInstancesDf(spark, dir).localCheckpoint()
    )

  /** Durable feature-stage materialization — the 100 TB path. Writes the
    * shared shingle and token-instance tables to parquet under
    * `statePath` (a write-read barrier: disk-backed, survives executor
    * loss, shareable across jobs/sessions) and points this session's
    * memo at the parquet reads, so all downstream text queries run from
    * the durable copy instead of executor-memory checkpoint blocks.
    *
    * The write clusters by `doc_id` so each downstream explode-side
    * shuffle starts from evenly sized splits. Returns the two table
    * paths.
    */
  def materializeFeatures(
      spark: SparkSession,
      dir: String,
      statePath: String
  ): (String, String) = {
    val shPath = s"$statePath/shingles"
    val tokPath = s"$statePath/tokens"
    shingleTableDf(spark, dir).write.mode("overwrite").parquet(shPath)
    tokenInstancesDf(spark, dir).write.mode("overwrite").parquet(tokPath)
    pointFeaturesAt(spark, dir, statePath)
    // The near-dup pair table is the third shared feature (q21's result,
    // consumed by q32/q36/q75/q84's graph and the dedup report): compute
    // it FROM the durable shingles just installed and persist it too, so
    // the durable mode covers every memoized table, not just the inputs.
    val pairsPath = s"$statePath/pairs"
    nearDupPairs(spark, dir).write.mode("overwrite").parquet(pairsPath)
    featureMemo.put((sessionKey(spark), dir, "pairs"), Parquet.read(spark, pairsPath))
    // Fourth shared feature: the duplicated-position table feeding the
    // span-extent family (q101/q102/q104).
    val posPath = s"$statePath/dup_positions"
    dupPositionsDf(spark, dir).write.mode("overwrite").parquet(posPath)
    featureMemo.put((sessionKey(spark), dir, "dup_positions"), Parquet.read(spark, posPath))
    (shPath, tokPath)
  }

  /** Re-point this session's memo at an EXISTING durable feature state
    * (no rewrite): drops any memoized entries for `dir` — including
    * localCheckpoint'd intermediates like q21's pair table — and
    * installs lazy parquet reads for the shared tables (the pair table
    * too when the state dir carries one). Bench calls this between
    * timed reps so no rep can hit materialized memo state while the
    * durable-feature mode stays durable.
    */
  def pointFeaturesAt(spark: SparkSession, dir: String, statePath: String): Unit = {
    val sk = sessionKey(spark)
    featureMemo.invalidate(sk, dir)
    featureMemo.put((sk, dir, "shingles"), Parquet.read(spark, s"$statePath/shingles"))
    featureMemo.put((sk, dir, "tokens"), Parquet.read(spark, s"$statePath/tokens"))
    val pairsPath = s"$statePath/pairs"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(java.net.URI.create(pairsPath), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(pairsPath)))
      featureMemo.put((sk, dir, "pairs"), Parquet.read(spark, pairsPath))
    val posPath = s"$statePath/dup_positions"
    if (fs.exists(new org.apache.hadoop.fs.Path(posPath)))
      featureMemo.put((sk, dir, "dup_positions"), Parquet.read(spark, posPath))
  }

  /** Parameterized near-dup pair builder over the inverted shingle
    * index (explode → equi-join on shingle → per-pair intersection
    * counts) — never a cross join.
    *
    * `dfCap` is the 100 TB candidate-volume knob: candidate pairs cost
    * Σ df(shingle)², so dropping shingles with document frequency above
    * the cap (a left-semi join against the under-cap shingle set) bounds
    * the self-join quadratically at a bounded recall cost — ultra-common
    * shingles are exactly the ones that contribute candidates least
    * likely to verify. `DedupSpec` proves cap ≥ max-df is lossless and a
    * tight cap only ever removes pairs.
    */
  private[graft] def nearDupPairs(
      spark: SparkSession,
      dir: String,
      threshold: Double = 0.5,
      dfCap: Option[Long] = None
  ): DataFrame = {
    val sh = shingleTable(spark, dir)
    val invAll = sh.select(col("doc_id"), col("n_sh"), explode(col("sh_ints")).as("shingle"))
    val inv = dfCap match {
      case Some(cap) =>
        val underCap = invAll
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap)
          .select("shingle")
        invAll.join(underCap, Seq("shingle"), "left_semi")
      case None => invAll
    }
    val a = inv.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("shingle"))
    val b = inv.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn(
        "jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared"))
      )
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
  }

  /** Near-duplicate pairs by exact word-3-gram Jaccard ≥ 0.5. Uncapped
    * (`dfCap = None`) because the DuckDB oracle must see identical
    * semantics; the capped variant is spec-verified instead.
    */
  def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    featureMemo.getOrElseUpdate(
      (sessionKey(spark), dir, "pairs"),
      nearDupPairs(spark, dir).localCheckpoint()
    )

  /** Asymmetric CONTAINMENT (|A∩B| / |A|, directed) — the dedup-family
    * member symmetric Jaccard cannot replace: a short document quoted
    * wholesale inside a much longer one scores near-zero Jaccard (the
    * union is dominated by the long side) but containment ≈ 1 in the
    * contained direction. The quote/subset/boilerplate-extraction
    * signal for corpus curation. Same inverted-shingle-index shape as
    * q21 (one shuffle on the shingle key), directed pairs instead of
    * ordered ones; tiny shingle sets are floored out (n_sh ≥ 5) so a
    * 3-shingle doc can't be "80 % contained" by chance. The q21 df-cap
    * escalation applies unchanged at corpus scale.
    */
  def q93Containment(spark: SparkSession, dir: String): DataFrame = {
    val inv = shingleTable(spark, dir)
      .filter(col("n_sh") >= 5)
      .select(col("doc_id"), col("n_sh"), explode(col("sh_ints")).as("shingle"))
    val a = inv.select(col("doc_id").as("contained"), col("n_sh").as("n_a"), col("shingle"))
    val b = inv.select(col("doc_id").as("container"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("contained") =!= col("container"))
      .groupBy(col("contained"), col("container"), col("n_a"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment", col("n_shared").cast("double") / col("n_a"))
      .filter(col("containment") >= 0.6)
      .select(
        col("contained"),
        col("container"),
        col("n_a").as("n_sh_contained"),
        col("n_shared"),
        col("containment")
      )
  }

  /** MinHash signatures (16 universal-hash functions over 28-bit shingle
    * hashes) + banded LSH (4 bands × 4 rows) + exact-Jaccard
    * verification of band-collision candidates.
    *
    * h_i(x) = ((2i+3)·x + 97i + 11) mod (2^31−1): every product
    * < 2^34 — no overflow in either engine. At 100 TB the band-key join
    * is the only shuffle and the verification join only sees colliding
    * pairs.
    */
  def q22MinHashLsh(spark: SparkSession, dir: String): DataFrame = {
    val nHashes = 16
    val bandRows = 4
    val p = lit(2147483647L)
    // Both band sides and both verification joins read the shared
    // materialized shingle table — the md5+shingle chain runs once per
    // session, not four times per query.
    val sh = shingleTable(spark, dir).select(col("doc_id"), col("sh_ints"))
    // graft_minhash == the HOF form
    //   transform(sequence(0,15), i -> array_min(transform(sh_ints,
    //     x -> ((2i+3)x + 97i + 11) mod p)))
    // as a single codegen'd two-level loop (same values, same oracle).
    val sigDf = sh
      .withColumn("sig", graft.functions.GraftFunctions.graft_minhash(col("sh_ints"), nHashes))
    val bands = sigDf.select(
      col("doc_id"),
      explode(
        transform(
          sequence(lit(0), lit(nHashes / bandRows - 1)),
          b =>
            struct(
              b.as("band"),
              array_join(
                transform(
                  slice(col("sig"), b * bandRows + 1, lit(bandRows)),
                  x => x.cast("string")
                ),
                "_"
              ).as("band_key")
            )
        )
      ).as("bk")
    ).select(col("doc_id"), col("bk.band"), col("bk.band_key"))
      // Both self-join sides read the band table: materialize it once.
      // Eager localCheckpoint instead of persist — no CacheManager entry
      // to leak, and the q22-local band table dies with the RDD.
      .localCheckpoint()
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    val cand = a
      .join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    // Verify on the int-hashed shingle sets: long equality beats string
    // equality in the intersect/union loops; the oracle mirrors this.
    val sets = sh.select(col("doc_id"), col("sh_ints"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_ints").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_ints").as("sh_b")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Top-5 terms per language by document frequency: explode tokens →
    * countDistinct(doc_id) per (lang, token) → ranked window. The
    * distinct-agg form lets Spark plan the doc-level dedup as a partial
    * aggregate fused with the count (map-side combine on
    * (lang, token, doc_id) before any shuffle) instead of a standalone
    * `.distinct()` pass — and q34 deliberately skips the shared
    * token-instance memo, whose materialization cost it would otherwise
    * be the first (alphabetical) bench consumer to pay despite needing
    * only this one aggregate from it.
    */
  def q34TopTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("token").asc)
    tf.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("lang", "token", "df", "rk")
  }

  /** End-to-end dedup application: exact dedup (keep min id per
    * identical text) then greedy near-dup removal (drop the larger id of
    * every Jaccard≥0.5 pair) — the library facade
    * [[graft.operators.Dedup]] driven by the q21 pair table.
    */
  def q32DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = q21NgramJaccard(spark, dir)
    graft.operators.Dedup
      .dropNearDups(graft.operators.Dedup.dedupExact(d, "doc_id", "text"), pairs, "doc_id")
      .select("doc_id", "lang", "n_chars")
  }

  /** Transitive dup clusters: connected components over the q21 pair
    * graph — each clustered doc mapped to the minimum doc id of its
    * component (the representative a keep-one rule would retain).
    */
  def q36DedupComponents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .connectedComponents(q21NgramJaccard(spark, dir).select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("comp").as("component"))

  /** TF-IDF top-3 terms per document. The idf factor is kept in its
    * RATIONAL form `(N+1)/(df+1)` — one IEEE division both engines
    * compute bit-identically — rather than `ln` of it, whose libm
    * rounding is engine-dependent; `ln` is monotone so the ranking is
    * the same either way.
    *
    * Scale: explode → (doc,token) tf agg [shuffle 1], token df agg over
    * the tf table [shuffle 2, partial map-side], tf⋈df on token, corpus
    * size joined as a broadcast scalar (never a driver collect), per-doc
    * top-k window [shuffle 3]. All shuffles keyed and partial-agg'd; no
    * global sort.
    */
  def q41Tfidf(spark: SparkSession, dir: String): DataFrame = {
    // Pinned: `tf` feeds BOTH the df rollup and the tf⋈df join's left
    // side, and Catalyst does not share the common subtree across
    // them — unpinned, the token-instance agg executed twice per
    // action. Slim (doc_id, token, tf) rows.
    val tf = tokenInstances(spark, dir)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        col("tf") * ((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)))
      )
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "token", "tf", "df", "score", "rk")
  }

  /** Deterministic stratified sampling: per-language keep rates applied
    * through a 28-bit md5 hash of `lang_docId` mod 100 — no RNG, so the
    * sample is reproducible on any cluster/partitioning, and the whole
    * operator is a pure filter (pushdown-friendly, zero shuffle).
    * The same construction extends to train/validation/test splits
    * (disjoint hash ranges).
    */
  def q42StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "es", 25)
      .otherwise(10)
    d.filter(pmod(h28(concat_ws("_", col("lang"), col("doc_id"))), lit(100)) < rate)
      .select("doc_id", "lang")
  }

  /** Approximate sequence packing for training batches: within each
    * language shard, documents (ordered by doc_id) are assigned to
    * 2048-token bins by their starting offset in the running token
    * count — `bin = (cumsum − n_tok) div 2048`, the standard
    * one-pass distributed approximation of greedy packing (exact greedy
    * is inherently sequential). Integer window arithmetic only; one
    * shuffle on the shard key.
    */
  def q48Pack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_tok"),
        expr("(cum - n_tok) div 2048").as("bin")
      )
  }

  /** Entity redaction (the PII-scrubbing shape: detect → count →
    * replace → fingerprint): counts and replaces whole-word entity
    * mentions in one codegen'd projection. The regex is
    * dialect-portable (plain alternation + word boundaries, identical
    * semantics in Java regex and RE2).
    */
  def q49Redact(spark: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|supplier|part)\\b"
    val redacted = regexp_replace(col("text"), pat, "<ENT>")
    docs(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_matches"),
      length(redacted).as("redacted_len"),
      md5(redacted).as("redacted_md5")
    )
  }

  /** Repetition detection (quality signal): per-document most-frequent
    * word bigram and its share of all bigram instances. Bigrams combine
    * 28-bit token hashes arithmetically (no per-bigram md5, longs not
    * strings downstream); the count is an explode + (doc, bigram)
    * groupBy + per-doc argmax — all keyed shuffles, no data-dependent
    * blowup.
    */
  def q50Repetition(spark: SparkSession, dir: String): DataFrame = {
    val p = lit(2147483647L)
    val toks = tokens(col("text"))
    val bi = docs(spark, dir)
      .filter(size(toks) >= 2)
      .withColumn("__th", transform(toks, t => h28(t)))
      .select(
        col("doc_id"),
        explode(
          zip_with(
            slice(col("__th"), lit(1), size(col("__th")) - 1),
            slice(col("__th"), lit(2), size(col("__th")) - 1),
            (a, b) => (a * 8191 + b) % p
          )
        ).as("bigram")
      )
    bi.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        max(col("cnt")).as("max_rep")
      )
      .withColumn("rep_ratio", col("max_rep").cast("double") / col("n_bigrams"))
  }

  /** Vocabulary mapping with OOV accounting: the top-30 tokens by
    * document frequency (deterministic df-desc/token-asc order) form
    * the vocab — a global top-k (TakeOrderedAndProject, k rows on the
    * driver), which is BOUNDED by construction and therefore a
    * legitimate broadcast build side; per-document OOV rates come from
    * one left join against it. The df aggregation is the only
    * input-sized shuffle.
    */
  def q52VocabMap(spark: SparkSession, dir: String): DataFrame = {
    val inst = tokenInstances(spark, dir).select(col("doc_id"), col("token"))
    val vocab = inst
      .groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(30)
      .select(col("token"), lit(true).as("in_vocab"))
    inst
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("in_vocab").isNull.cast("long")).as("n_oov")
      )
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Training/eval decontamination: flag training documents whose
    * word-3-gram shingles are substantially CONTAINED in some eval-set
    * document (containment |A∩B|/|A|, the standard contamination
    * metric — asymmetric, unlike Jaccard: a short eval prompt pasted
    * into a long training doc still scores high). The eval set is a
    * deterministic ~10% hash split of doc ids, so the split is
    * reproducible on any partitioning.
    *
    * Scale: the same inverted shingle index as q21 — candidates come
    * from an equi-join on shingle hash (train side ⋈ eval side), never
    * a cross join, and the eval side of a real decontamination run is
    * tiny (benchmarks, not corpora), so at 100 TB the eval index is a
    * broadcast build side and the train side never shuffles.
    */
  def q54Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(spark, dir)
    val isEval = pmod(h28(concat_ws("_", lit("ev"), col("doc_id"))), lit(10)) === 0
    val inv = sh.select(col("doc_id"), col("n_sh"), explode(col("sh_ints")).as("shingle"))
    val train = inv
      .filter(!isEval)
      .select(col("doc_id").as("train_doc"), col("n_sh").as("n_train"), col("shingle"))
    val eval_ = inv
      .filter(isEval)
      .select(col("doc_id").as("eval_doc"), col("shingle"))
    train
      .join(eval_, Seq("shingle"))
      .groupBy(col("train_doc"), col("eval_doc"), col("n_train"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("containment", col("n_shared").cast("double") / col("n_train"))
      .filter(col("containment") >= 0.5)
      .select("train_doc", "eval_doc", "n_shared", "containment")
  }

  /** Overlapping fixed-size chunking (the RAG / context-window prep
    * shape): 64-token chunks on a 48-token stride, so consecutive
    * chunks overlap by 16 tokens. Pure per-row explode of arithmetic
    * offsets — no shuffle, no UDF; chunk text is fingerprinted (md5)
    * rather than re-emitted, so the output stays narrow.
    */
  def q55Chunk(spark: SparkSession, dir: String): DataFrame = {
    val size_ = 64
    val stride = 48
    docs(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .select(
        col("doc_id"),
        col("t"),
        col("n"),
        explode(sequence(lit(0), expr(s"(n - 1) div $stride"))).as("i")
      )
      .select(
        col("doc_id"),
        col("i").cast("int").as("chunk_idx"),
        least(lit(size_), col("n") - col("i") * stride).cast("int").as("n_chunk_tokens"),
        md5(array_join(slice(col("t"), col("i") * stride + 1, lit(size_)), " ")).as("chunk_md5")
      )
  }

  /** Heavy hitters: top-10 tokens by instance count. The exact counts
    * (one keyed agg with map-side partials + a bounded global top-k)
    * hash-match the oracle; alongside them, Spark's `approx_top_k`
    * frequent-items sketch (mergeable, one pass, fixed memory — the
    * 100 TB path when the token domain no longer fits an exact agg) is
    * validated with the q30 pattern: each sketch estimate must land
    * within 1% of corpus size of the exact count, a flag the oracle
    * asserts as literal TRUE.
    */
  def q56HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val inst = tokenInstances(spark, dir).select(col("token"))
    val exact = inst.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    val top = exact
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(10)
      .withColumn("rank", row_number().over(w).cast("int"))
    val sketch = inst
      .agg(expr("approx_top_k(token, 200, 100000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est"))
    val total = inst.agg(count(lit(1)).as("n_total"))
    top
      .join(sketch, Seq("token"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("token"),
        col("cnt"),
        col("rank"),
        coalesce(
          abs(col("est") - col("cnt")).cast("double") <= col("n_total").cast("double") / 100,
          lit(false)
        ).as("est_within_1pct")
      )
  }

  /** Deterministic weighted (importance) sampling — the data-curation
    * pass that keeps documents with probability proportional to a
    * quality weight (here `min(1, n_chars/2000)`). The keep test is
    * PURE INTEGER arithmetic: P·10⁴ = min(10⁴, n_chars·5) exactly, and
    * the per-doc coin is the 28-bit md5 hash mod 10⁴ — reproducible on
    * any cluster/partitioning (q42's construction, weight-scaled).
    * Zero shuffle; at 100 TB this is a pushdown-friendly filter.
    */
  def q66WeightedSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(
        pmod(h28(concat_ws("_", lit("ws"), col("doc_id"))), lit(10000)) <
          least(lit(10000L), col("n_chars") * 5)
      )
      .select("doc_id", "n_chars", "lang")

  /** Bigram language-model counts: c(w1,w2), the bigram-first count
    * c(w1) = Σ_w c(w1,w), and the conditional probability
    * p(w2|w1) = c(w1,w2)/c(w1) — the count-table prep for n-gram LM
    * scoring / perplexity filtering. Bigrams come from zip_with over
    * two slices (three array references per ROW — the q21 shape that
    * survives predicate pushdown), and everything downstream is two
    * keyed count aggregations plus a broadcastable join on w1. The
    * division has exact integer operands — bit-identical cross-engine.
    * `c12 >= 3` bounds the output to repeated bigrams.
    */
  /** Bigram pair counts (w1, w2, c12) — ONE corpus explode; every
    * marginal a consumer needs (left/right unigram totals, the grand
    * total) is a rollup of this table, never a re-explode. Shared by
    * q74 and q92.
    */
  private def bigramCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(
        explode(
          zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("bg")
      )
      .select(col("bg.w1"), col("bg.w2"))
      // Explicit on BOTH keys so every downstream join branch pushes
      // the SAME filters here and the exchanges canonicalize equal —
      // otherwise each marginal join re-explodes the corpus (q87's
      // lesson). Split tokens are never null; this is plan hygiene.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
  }

  def q74BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val big = bigramCounts(spark, dir)
    // c1 = Σ_w2 c12: a rollup of `big`, so the corpus explode runs once
    // and Catalyst reuses big's exchange for the rollup.
    val uni = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    big
      .join(uni, Seq("w1"))
      .filter(col("c12") >= 3)
      .withColumn("p_cond", col("c12").cast("double") / col("c1"))
      .select("w1", "w2", "c12", "c1", "p_cond")
  }

  /** LM-perplexity quality gate (the CCNet-style filter) in EXACT
    * integer arithmetic: score each doc by the summed surprisal of its
    * bigrams under the corpus's own bigram LM, where per-bigram
    * surprisal is the INTEGER bit count `floor(log2(c1 div c12))` —
    * computed as `length(bin(c1 div c12)) - 1`, identical in both
    * engines, instead of a floating log whose last ulp differs across
    * libm implementations (q92's ln-vs-lift reasoning taken one step
    * further: here even the monotone-transform dodge is unavailable
    * because scores are SUMMED, so the score itself must be exact).
    * Within 1 bit/token of true log2 perplexity — the same decision
    * quality for a keep/drop gate, with a hash-stable oracle. Docs
    * under 2 tokens have no bigrams and are not scored.
    *
    * Plan shape — built for Zipf-skewed token keys: ONE bigram explode
    * feeding a `(doc_id, w1, w2)` pre-aggregation (bounded per doc by
    * its own vocabulary), from which the `(w1,w2)→c12` and `w1→c1`
    * count tables are ROLLUPS joined back at the per-doc grain. A
    * count WINDOW over `(w1)` would put every instance of a head
    * unigram — "the" is 5-7 % of natural-language tokens — into ONE
    * window partition, i.e. one task buffering terabytes at 100 TB;
    * WindowExec materializes the partition buffer and AQE never splits
    * a window partition (OptimizeSkewedJoin applies to joins only, and
    * skew-coalescing merges small partitions — it cannot split a
    * single key). The shapes here are all skew-safe: the
    * pre-aggregation spreads head tokens across doc_ids, each rollup
    * carries map-side partial aggregation (a task's shuffle rows are
    * bounded by its distinct keys, not its instances), and the
    * join-back — one row per key on the dict side — is exactly the
    * shape AQE's skewed-join rule CAN split. Exchange reuse keeps the
    * corpus explode single-execution: every branch rides the
    * `(doc_id,w1,w2)` aggregate's exchange (plan-locked, like
    * q74/q92's marginal rollups).
    */
  def q106LmSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // The bigram grain is THE shared definition
    // (QualityModel.perDocBigramCounts) — the frozen gate (q107) builds
    // on the same expression tree, which is what makes its spec'd
    // "self-model ≡ q106" equivalence structural. The isNotNull plan
    // hygiene lives there too (every join branch pushes the SAME
    // inferred filters; exchanges canonicalize equal).
    val perDoc = graft.operators.QualityModel
      .perDocBigramCounts(docs(spark, dir), "doc_id", "text")
    val pair = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c12"))
    val uni = pair.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    perDoc
      .join(pair, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("bits", (length(bin(expr("c1 div c12"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt") * col("bits")).as("surprisal_bits"),
        sum(col("cnt")).as("n_bigrams")
      )
      .select(
        col("doc_id"),
        col("surprisal_bits"),
        col("n_bigrams"),
        (col("surprisal_bits").cast("double") / col("n_bigrams")).as("avg_bits"),
        (col("surprisal_bits") * 5 <= col("n_bigrams") * 22).as("keep_doc")
      )
  }

  /** Collocation extraction by PMI-style LIFT — the corpus-linguistics
    * companion to q74's conditional bigram LM: score each bigram by
    * `c12·N / (c1·c2)` (observed over expected-under-independence) and
    * keep the top 25 above a minimum count. The classic log-PMI is a
    * monotone transform of lift, so the RANKING is identical while the
    * score stays a double-space product ratio mirrored op-for-op by
    * the oracle (libm `ln` differs in last-ulp across engines —
    * q41/q82's reasoning; the products are computed in DOUBLE because
    * at corpus scale `c1·c2` of a frequent pair overflows int64, where
    * Spark wraps silently and DuckDB errors — counts below 2^53 make
    * the double products exact anyway). Plan: ONE bigram explode —
    * both marginals and the grand total are rollups of the pair-count
    * table — then a TakeOrderedAndProject top-k, never a global sort.
    */
  def q92Collocations(spark: SparkSession, dir: String): DataFrame = {
    val big = bigramCounts(spark, dir)
    val u1 = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val u2 = big.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = big.agg(sum(col("c12")).as("nn"))
    big
      .join(u1, Seq("w1"))
      .join(u2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= 5)
      .withColumn(
        "lift",
        col("c12").cast("double") * col("nn") / (col("c1").cast("double") * col("c2"))
      )
      .select("w1", "w2", "c12", "c1", "c2", "lift")
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(25)
  }

  /** Per-language deduplication report over the q21 near-dup pair
    * graph: document counts, pair counts (attributed to doc_a's
    * language), distinct documents involved in any pair, and the dup
    * rate. The corpus-health dashboard a dedup pipeline publishes —
    * everything is a keyed count over the (already bounded) pair table
    * joined to a two-column doc projection; output is one row per
    * language.
    */
  def q75DedupReport(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"))
    val pairs = q21NgramJaccard(spark, dir)
    val perLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nPairs = pairs
      .join(d.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDupDocs = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .join(d, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_dup_docs"))
    perLang
      .join(nPairs, Seq("lang"), "left")
      .join(nDupDocs, Seq("lang"), "left")
      .select(
        col("lang"),
        col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        (coalesce(col("n_dup_docs"), lit(0L)).cast("double") / col("n_docs")).as("dup_rate")
      )
  }

  /** Training-mixture rebalancing: sample each language down to a
    * target share of the corpus (en 40% / es 30% / fr 20% / de 10%).
    * Per-language keep rate = min(1, target·N_total/n_lang), applied as
    * a PURE INTEGER hash test (rate scaled to ppm, q42's construction) —
    * deterministic under any partitioning. The rate table is one tiny
    * aggregate cross-joined as a broadcast scalar; the sample itself is
    * a pushdown-friendly filter, zero extra shuffle at 100 TB.
    */
  def q77MixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"))
    val target = when(col("lang") === "en", 0.4)
      .when(col("lang") === "es", 0.3)
      .when(col("lang") === "fr", 0.2)
      .otherwise(0.1)
    val rates = d
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n_total"))))
      .withColumn(
        "keep_ppm",
        least(
          lit(1000000L),
          floor(target * col("n_total") * lit(1000000.0) / col("n_lang")).cast("long")
        )
      )
      .select(col("lang"), col("keep_ppm"))
    d.join(broadcast(rates), Seq("lang"))
      .filter(
        pmod(h28(concat_ws("_", col("lang"), col("doc_id"))), lit(1000000)) < col("keep_ppm")
      )
      .select("doc_id", "lang", "keep_ppm")
  }

  /** Gopher-style quality-rule filter (Rae et al. 2021, published
    * heuristics): word-count bounds, mean-word-length bounds,
    * alphabetic-word fraction, minimum stop-word evidence — each as an
    * explicit per-rule flag plus the composite keep decision. Every
    * rule is evaluated in PURE INTEGER arithmetic (`3n ≤ Σlen ≤ 10n`
    * instead of a double mean compare), so flags are bit-stable across
    * engines; the reported ratios are single exact divisions. Pure
    * per-row projection — zero shuffle, pushdown-friendly at 100 TB.
    */
  def q78GopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val nStop = size(filter(toks, t => t.isin("the", "a", "and", "of")))
    docs(spark, dir).select(
      col("doc_id"),
      n.as("n_words"),
      (sumLen.cast("double") / n).as("mean_word_len"),
      (nAlpha.cast("double") / n).as("alpha_frac"),
      nStop.cast("int").as("n_stop"),
      (n >= 50 && n <= 100000).as("pass_word_count"),
      (sumLen >= n.cast("long") * 3 && sumLen <= n.cast("long") * 10).as("pass_word_len"),
      (nAlpha * 10 >= n * 8).as("pass_alpha"),
      (nStop >= 2).as("pass_stop"),
      (n >= 50 && n <= 100000 &&
        sumLen >= n.cast("long") * 3 && sumLen <= n.cast("long") * 10 &&
        nAlpha * 10 >= n * 8 && nStop >= 2).as("keep")
    )
  }

  /** Duplicate-3-gram fraction (the Gopher repetition rule family):
    * `1 − distinct/total` word-3-grams per document — high values mark
    * boilerplate / looping generations. Total 3-grams is `n_tokens − 2`
    * arithmetically; distinct comes from the same native
    * `graft_shingles` the near-dup operators use, so the metric is free
    * where shingles are already computed. The flag applies the
    * published ≤ 0.3 cut in pure integer arithmetic
    * (`10·distinct ≥ 7·total`). Zero shuffle.
    */
  def q80DupNgramFrac(spark: SparkSession, dir: String): DataFrame = {
    val shingled = withShingles(docs(spark, dir))
    shingled
      .select(
        col("doc_id"),
        (size(tokens(col("text"))) - 2).as("n_3grams"),
        size(col("sh_ints")).as("n_distinct")
      )
      .withColumn(
        "dup_frac",
        lit(1.0) - col("n_distinct").cast("double") / col("n_3grams")
      )
      .withColumn("pass_dup_ngram", col("n_distinct") * 10 >= col("n_3grams") * 7)
  }

  /** Fixed-SIZE deterministic stratified sample: exactly
    * `min(30, n_lang)` documents per language, chosen as the smallest
    * per-doc hashes (doc_id tiebreak) — the reservoir-sampling
    * equivalent with zero RNG state, reproducible on any
    * partitioning / cluster size. Complements rate-based q42 when the
    * downstream contract is an exact count (eval sets, human-review
    * batches). Scale shape: the `row_number ≤ k` window plans with a
    * PARTIAL `WindowGroupLimit` — each map task keeps at most k rows
    * per language BEFORE the shuffle, so the sort never sees the
    * corpus, only ≤ k·tasks rows per stratum.
    */
  def q81FixedSample(spark: SparkSession, dir: String): DataFrame = {
    val h = h28(concat_ws("_", lit("fs"), col("doc_id")))
    val w = Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 30)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** BM25 relevance scoring for a fixed two-term query — the classic
    * retrieval ranking over the corpus. Uses the RATIONAL idf variant
    * `(N − df + 0.5)/(df + 0.5)` (no libm `ln`, whose last-ulp
    * behavior differs across engines — same reasoning as q41's
    * rational idf); ranking order is preserved since ln is monotone.
    * Every arithmetic step is a fixed IEEE op sequence mirrored by the
    * oracle: per-term tf via keyed counts, doc length and corpus
    * averages as exact-integer divisions, the per-term score chain
    * evaluated in one deterministic expression, and the two term
    * scores added in fixed order (never a row-order-dependent sum).
    * Scale: term filter prunes the explode to query-term instances
    * only; corpus stats are 1-row broadcast scalars.
    */
  /** The shared BM25 per-term score chain (k1=1.2, b=0.75, rational
    * idf) — ONE expression shape used by q82 and by
    * [[graft.operators.TextIndex.search]], so index-served scores are
    * bit-identical to the direct computation (TextIndexSpec).
    */
  private[graft] def bm25Score(
      tfc: Column,
      dfc: Column,
      dlc: Column,
      nDocs: Column,
      sumDl: Column
  ): Column = {
    val k1 = lit(1.2)
    val b = lit(0.75)
    val idf = (nDocs.cast("double") - dfc + lit(0.5)) / (dfc + lit(0.5))
    val avgdl = sumDl.cast("double") / nDocs
    val norm = tfc + k1 * (lit(1.0) - b + b * (dlc.cast("double") / avgdl))
    idf * (tfc * (k1 + lit(1.0))) / norm
  }

  def q82Bm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "table")
    val d = docs(spark, dir)
    // ONE corpus scan: per-doc term frequencies are per-row array
    // counts over the token split — the previous shape exploded the
    // token stream, shuffled the instances into a (doc, term) count,
    // re-shuffled that into per-doc wide columns, and joined them back
    // to a SECOND corpus scan carrying doc length (4 exchanges + 2
    // scans; plans/r16). tf is null when the term is absent, exactly
    // the explode+groupBy row-absence the old inner join encoded —
    // the null-vs-0 distinction feeds both the score's otherwise(0.0)
    // arm and the doc filter below.
    def tfOf(term: String): Column = {
      val cnt = size(filter(tokens(col("text")), t => t === lit(term)))
      when(cnt > 0, cnt.cast("long"))
    }
    val base = d.select(
      col("doc_id"),
      size(tokens(col("text"))).as("dl"),
      tfOf(terms(0)).as("tf_a"),
      tfOf(terms(1)).as("tf_b")
    )
    // Corpus stats in ONE 1-row aggregate (n_docs, Σdl, per-term doc
    // frequencies); empty-term guard replicates the old empty-crossJoin
    // semantics — if either term matches no document, the output is
    // empty, never a df=0 score.
    val stats = base
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"),
        count(col("tf_a")).as("df_a"),
        count(col("tf_b")).as("df_b")
      )
      .filter(col("df_a") > 0 && col("df_b") > 0)
    val score = bm25Score _
    base
      .filter(col("tf_a").isNotNull || col("tf_b").isNotNull)
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"),
        (when(col("tf_a").isNotNull, score(col("tf_a"), col("df_a"), col("dl"), col("n_docs"), col("sum_dl")))
          .otherwise(lit(0.0)) +
          when(col("tf_b").isNotNull, score(col("tf_b"), col("df_b"), col("dl"), col("n_docs"), col("sum_dl")))
            .otherwise(lit(0.0))).as("bm25")
      )
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * algorithm): over the POSITIONAL 3-gram hash sequence, each sliding
    * window of 4 selects its minimum; the distinct selected values are
    * the document's fingerprints. Winnowing guarantees any match of
    * length ≥ w+k−1 shares a fingerprint while sampling only ~2/(w+1)
    * of positions — the copy-detection primitive between exact hashing
    * and MinHash. Output is the per-doc fingerprint summary (count,
    * min/max, checksum) — scalars, so the oracle hashes them directly;
    * all arithmetic is the 28-bit integer domain shared with q20/q21.
    */
  def q83Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val p = lit(2147483647L)
    val toks = tokens(col("text"))
    // ≥6 tokens ⟺ ≥4 shingles ⟺ at least one window.
    docs(spark, dir)
      .filter(size(toks) >= 6)
      .withColumn("__th", transform(toks, t => h28(t)))
      .withColumn(
        "sh_seq",
        zip_with(
          zip_with(
            slice(col("__th"), lit(1), size(col("__th")) - 2),
            slice(col("__th"), lit(2), size(col("__th")) - 2),
            (a, b) => (a * 8191 + b) % p
          ),
          slice(col("__th"), lit(3), size(col("__th")) - 2),
          (ab, c) => (ab * 8191 + c) % p
        )
      )
      .withColumn(
        "fps",
        array_distinct(
          transform(
            sequence(lit(1), size(col("sh_seq")) - 3),
            i => array_min(slice(col("sh_seq"), i, lit(4)))
          )
        )
      )
      .select(
        col("doc_id"),
        size(col("fps")).as("n_fps"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        aggregate(col("fps"), lit(0L), (acc, x) => acc + x).as("fp_sum")
      )
  }

  /** PageRank (2 iterations, damping 0.85) over the undirected near-dup
    * pair graph — ranks the "centers" of duplicate clusters, the doc
    * you keep when collapsing a cluster by authority instead of min-id.
    * Determinism at any partitioning: each node's outgoing contribution
    * `r/deg` is integer-scaled (`floor(x·2^30)`) BEFORE the incoming
    * sum, so the only aggregation is an order-independent long sum and
    * every remaining step is a fixed IEEE op chain the oracle mirrors.
    * Scale: two keyed joins + keyed sums per iteration over the
    * (bounded) pair graph; degrees computed once.
    */
  def q84PageRank(spark: SparkSession, dir: String): DataFrame = {
    val s = 1073741824L // 2^30
    val pairs = q21NgramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint() // both iterations + degrees read the edge list
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    def iterate(ranks: DataFrame): DataFrame =
      edges
        .join(ranks, Seq("src"))
        .join(deg, Seq("src"))
        .select(
          col("dst"),
          floor(col("r") / col("deg") * lit(s.toDouble)).cast("long").as("contrib")
        )
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(
          col("dst").as("src"),
          (lit(0.15) + lit(0.85) * (col("in_sum").cast("double") / lit(s.toDouble))).as("r")
        )
    val r0 = deg.select(col("src"), lit(1.0).as("r"))
    val r1 = iterate(r0)
    val r2 = iterate(r1)
    r1.select(col("src").as("doc_id"), col("r").as("rank_iter1"))
      .join(r2.select(col("src").as("doc_id"), col("r").as("rank_iter2")), Seq("doc_id"))
  }

  /** The full corpus-curation pipeline in one statement — the
    * end-to-end flow a training-data team runs, composed from the
    * library's stages: Gopher quality rules (q78) → exact dedup
    * keep-min among survivors (q17's rule) → greedy near-dup drop
    * against the corpus pair graph (q21/q32's rule) → target-share
    * mixture rebalance over what remains (q77's construction, its own
    * hash salt, rates from SURVIVOR counts so the output mix is the
    * target mix of the curated — not raw — corpus). Every stage is a
    * filter/keyed-join over the operators already proven individually;
    * the oracle replays the identical four stages in SQL.
    */
  def q86Curation(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val qualityKept = q78GopherQuality(spark, dir).filter(col("keep")).select("doc_id")
    val kept1 = d.join(qualityKept, Seq("doc_id"), "left_semi")
    val kept2 = graft.operators.Dedup.dedupExact(kept1, "doc_id", "text")
    val kept3 = graft.operators.Dedup
      .dropNearDups(kept2, q21NgramJaccard(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      // Three queries/stages read the survivor set (counts + total +
      // final filter) — settle it once.
      .localCheckpoint()
    val target = when(col("lang") === "en", 0.4)
      .when(col("lang") === "es", 0.3)
      .when(col("lang") === "fr", 0.2)
      .otherwise(0.1)
    val rates = kept3
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .crossJoin(broadcast(kept3.agg(count(lit(1)).as("n_total"))))
      .withColumn(
        "keep_ppm",
        least(
          lit(1000000L),
          floor(target * col("n_total") * lit(1000000.0) / col("n_lang")).cast("long")
        )
      )
      .select(col("lang"), col("keep_ppm"))
    kept3
      .join(broadcast(rates), Seq("lang"))
      .filter(
        pmod(h28(concat_ws("_", lit("mx"), col("lang"), col("doc_id"))), lit(1000000)) <
          col("keep_ppm")
      )
      .select("doc_id", "lang", "n_chars")
  }

  /** SimHash: 32-bit fingerprint from weighted token-hash bit votes.
    * bit b set ⇔ Σ_tokens count·(bit b of h28(token) ? 1 : −1) > 0.
    * Output is the fingerprint per doc (bigint) — self-join hamming
    * queries bucket on a prefix at scale.
    */
  def q23SimHash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // Summing ±1 over every token INSTANCE equals count-weighted votes
    // over distinct tokens — no frequency map needed. The vote loop is
    // the native codegen'd [[graft.functions.SimHash]] expression (one
    // two-level primitive loop) rather than a 28-lambda interpreted HOF
    // chain; the DuckDB oracle evaluates the identical ±1 integer votes
    // via `floor(h / 2^b) % 2`, which agrees with the expression's
    // shift-and-mask on these non-negative 28-bit hashes.
    val tokHashes = transform(tokens(col("text")), t => h28(t))
    d.select(
      col("doc_id"),
      graft.functions.GraftFunctions.graft_simhash(tokHashes, 28).as("simhash")
    )
  }

  /** Incremental distinct-cardinality telemetry, END-TO-END through the
    * persistent maintenance loop: the corpus arrives as two batches
    * (split by doc_id parity), each folded into
    * [[graft.operators.Maintenance.refreshCardinality]]'s on-disk HLL
    * state with an applied-id marker — and the second batch is then
    * REPLAYED, which must no-op. The oracle makes that replay claim
    * falsifiable: `n_instances` comes from the state table's exact row
    * counter, so a double-applied batch inflates it and breaks the
    * hash against DuckDB's direct count. The sketch estimate itself is
    * validated with the q30 in-band pattern (≤5 % flag, ~3σ at lgK=12's
    * 1.6 % rsd; at this vocabulary the sketch is still in exact coupon
    * mode, so the margin is enormous). Per-batch cost at 100 TB is the
    * batch scan plus a few KB of register state per key — the only
    * shape under which "distinct tokens ever seen per language" is
    * maintainable at all (the exact alternative persists the full
    * token SET per key).
    */
  def q89IncrementalDistinct(spark: SparkSession, dir: String): DataFrame = {
    val inst = docs(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
    val even = inst.filter(col("doc_id") % 2 === 0)
    val odd = inst.filter(col("doc_id") % 2 === 1)
    // The estimate table is ONE ROW PER LANGUAGE (bounded, like the
    // per-file stats index) — materialize it and drop the scratch
    // state dir (its writer lease included) on every exit, instead of
    // leaking a /tmp dir per invocation and handing consumers a lazy
    // plan over deleted files. (The demo query pins state to a
    // driver-local tmp path because the driver contract runs local[*];
    // the Maintenance API itself takes any Hadoop-FS path — a cluster
    // deployment passes a shared one.)
    val root = java.nio.file.Files.createTempDirectory("graft-card")
    val estRows =
      try {
        val statePath = root.resolve("state").toString
        graft.operators.Maintenance
          .refreshCardinality(spark, even, Seq("lang"), "token", statePath, Some(1L))
        graft.operators.Maintenance
          .refreshCardinality(spark, odd, Seq("lang"), "token", statePath, Some(2L))
        // replay of an applied batch — exactly-once means this is a no-op
        graft.operators.Maintenance
          .refreshCardinality(spark, odd, Seq("lang"), "token", statePath, Some(2L))
        graft.operators.Maintenance
          .cardinalityEstimates(spark, statePath)
          .select(col("lang"), col("estimate"), col("n"))
          .collect()
          .toIndexedSeq
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    val est = {
      import spark.implicits._
      estRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toDF("lang", "estimate", "n")
    }
    val exact = inst
      .groupBy(col("lang"))
      .agg(countDistinct(col("token")).as("n_tokens"))
    exact
      .join(est, "lang")
      .select(
        col("lang"),
        col("n_tokens"),
        col("n").as("n_instances"),
        (abs(
          col("estimate").cast("double") / col("n_tokens") - 1.0
        ) <= 0.05).as("within_bound")
      )
  }

  /** Cross-document duplicate-SPAN fraction — the substring-level dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): for every positional 3-gram in every document,
    * is that exact 3-gram present in at least one OTHER document? The
    * per-doc fraction of such positions drives span-level dedup cuts
    * that doc-level near-dup (q21/q22) and within-doc repetition (q80)
    * both miss — boilerplate shared across many distinct pages.
    *
    * Plan shape: a per-doc COUNT over the shared duplicated-position
    * table ([[dupPositions]] — one corpus-wide positional pass serving
    * q87/q101/q102/q104 through the session memo, duplicated hashes
    * decided by the skew-safe agg + semi probe) joined back to a
    * token-count projection of the corpus. A duplicated POSITION is
    * exactly what q87's numerator counts, so the fraction is a rollup
    * of the feature table — q87 pays two short keyed aggs, never its
    * own explode.
    */
  def q87DupSpanCross(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val counted = dupPositions(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cross_raw"))
    // n_3grams needs only the token COUNT — no re-hash of the corpus.
    d.select(col("doc_id"), (size(tokens(col("text"))) - 2).as("n_3grams"))
      .join(counted, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_3grams"),
        coalesce(col("n_cross_raw"), lit(0L)).as("n_cross"),
        when(
          col("n_3grams") > 0,
          coalesce(col("n_cross_raw"), lit(0L)).cast("double") / col("n_3grams")
        ).otherwise(lit(0.0)).as("cross_frac"),
        // ≤ 20 % duplicated spans, pure integer arithmetic.
        (coalesce(col("n_cross_raw"), lit(0L)) * 5 <= col("n_3grams"))
          .as("pass_cross_dup")
      )
  }

  /** Retained for API stability: the round-16 [[dupPositionsOf]] shape
    * (skew-safe agg + semi probe) needs no instance-df cap — the
    * aggregate's map-side partial combine bounds every reducer row
    * count by distinct hashes, and residual probe-join skew is AQE's
    * to split. */
  private[graft] val SpanDfCap = 1024

  /** Positions whose 3-gram shingle also occurs in at least one OTHER
    * document — the duplicated-position table shared by
    * q87/q101/q102/q104. POSITION-PRESERVING: `posexplode` keeps the
    * token index so downstream can reason about spans, not counts.
    *
    * Shape (round 16 — replaces the hot/cold window split): ONE
    * skew-safe per-hash stats aggregate (map-side partial combine —
    * every task collapses its instances of a hash to one row BEFORE
    * the exchange, so a Zipf-head boilerplate 3-gram can never
    * overload a reducer) computes min/max doc attribution for EVERY
    * hash; the cross-doc-duplicated hash set (`mn != mx`) then
    * LEFT-SEMI probes the positional pass. The previous shape routed
    * high-df hashes around a min/max WINDOW via a broadcast pre-flag
    * because AQE cannot split a window partition — the semi join
    * removes the window entirely, so residual join skew lands where
    * AQE's skew rule CAN split it, and the positional explode runs
    * twice (stats + probe) instead of three times (stats + two
    * consumer branches). At bench scale the dup-hash set broadcasts
    * and the positional table is never exchanged at all; at 100 TB it
    * degrades to a shuffled semi join with AQE skew handling — both
    * strictly better postures than the window. (`dfCap` kept for API
    * stability; the aggregate needs no cap.) The memo/durable-feature
    * layer still means ONE materialization serves all consumers.
    */
  private[graft] def dupPositionsOf(d: DataFrame, dfCap: Int = SpanDfCap): DataFrame = {
    val exploded = d
      .select(
        col("doc_id"),
        posexplode(
          graft.functions.GraftFunctions.graft_shingles_pos(tokens(col("text")))
        ).as(Seq("pos", "h"))
      )
    val dupH = exploded
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn_doc"), max(col("doc_id")).as("mx_doc"))
      .filter(col("mn_doc") =!= col("mx_doc"))
      .select(col("h"))
    exploded.join(dupH, Seq("h"), "left_semi").select(col("doc_id"), col("pos"))
  }

  private[graft] def dupPositionsDf(spark: SparkSession, dir: String): DataFrame = {
    dupPositionsOf(docs(spark, dir))
  }

  /** [[dupPositionsDf]] through the shared feature memo — three extent
    * consumers (q101/q102/q104) pay the corpus-wide positional pass
    * once per (session, dir), and [[materializeFeatures]] pins it to
    * parquet in durable mode like the shingle/token tables.
    */
  private def dupPositions(spark: SparkSession, dir: String): DataFrame =
    featureMemo.getOrElseUpdate(
      (sessionKey(spark), dir, "dup_positions"),
      dupPositionsDf(spark, dir).localCheckpoint()
    )

  /** Maximal per-doc duplicated extents: the island merge lives in
    * [[graft.operators.Dedup.extentsFromDupPositions]] (shared with the
    * incremental span index).
    */
  private def dupExtents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.extentsFromDupPositions(dupPositions(spark, dir))

  /** Exact-substring dedup extents (Lee et al. 2022: cut the duplicated
    * SPAN, keep the document): maximal runs of cross-doc-duplicated
    * 3-gram positions, reported as inclusive token extents
    * `[start_pos, end_pos]` of ≥ 5 tokens. q87 reports the per-doc
    * duplicated-position FRACTION; this is the actionable span list a
    * span-level cleaner feeds to `substring`-style cuts.
    *
    * Scale: candidate volume is the duplicated-position count (≤ corpus
    * shingle instances, df-cappable per q21); the island merge is a
    * per-doc window whose state is ONE row (the running rank), and the
    * extent agg groups on (doc_id, grp) — rows at that point are only
    * the duplicated positions, a small fraction of the corpus.
    */
  def q101DupExtents(spark: SparkSession, dir: String): DataFrame =
    dupExtents(spark, dir).filter(col("n_tokens") >= 5)

  /** Source(domain)-reputation curation (the RefinedWeb/CCNet-style
    * domain gate): per `source`, how much of its token volume sits
    * inside cross-doc duplicated extents (boilerplate burden), how many
    * of its docs are trivially short, and a keep/drop verdict. Domain
    * gates are the cheapest high-leverage curation step at corpus
    * scale — one decision removes millions of documents.
    *
    * Determinism: integer sums + exactly one IEEE division for the
    * published ratio; the verdict compares integers (`dup·20 ≤ tok·13`
    * ⇔ burden ≤ 0.65, `short·2 ≤ docs` ⇔ short-frac ≤ 0.5). Scale: the
    * extent table is q101's (bounded); everything after is two keyed
    * aggs (doc_id, source) over short rows.
    */
  def q102SourceReputation(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = dupExtents(spark, dir)
      .filter(col("n_tokens") >= 5)
      .groupBy(col("doc_id"))
      .agg(sum(col("n_tokens")).as("dup_toks"))
    val d = docs(spark, dir).select(
      col("doc_id"),
      col("source"),
      size(tokens(col("text"))).cast("long").as("n_toks"),
      (col("n_chars") < 200).as("is_short")
    )
    d.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dup_toks").isNotNull, 1L).otherwise(0L)).as("n_docs_with_dup"),
        sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("is_short"), 1L).otherwise(0L)).as("n_short")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_docs_with_dup"),
        col("dup_tokens"),
        col("n_tokens"),
        col("n_short"),
        (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_burden"),
        (col("dup_tokens") * 20 <= col("n_tokens") * 13 &&
          col("n_short") * 2 <= col("n_docs")).as("keep_source")
      )
  }

  /** Span-level cleaning — the ACT step to q101's detect step (Lee et
    * al.: cut the duplicated substring, keep the document): rebuild each
    * doc's text with every token inside a ≥ 5-token duplicated extent
    * removed, plus the exact removed-token count. Adjacent islands can
    * OVERLAP by 1-2 tokens in token space (islands are maximal in
    * shingle-position space; a 2-position gap still overlaps through the
    * 3-gram width), so the removed count comes from the per-token
    * membership test, never from summing extent lengths.
    *
    * Shape: q101's extent pass, extents collected per doc (sorted array
    * — deterministic independent of agg order), one join back to the
    * corpus on doc_id, then a per-row lambda filter (an interpreted
    * HOF, like every Spark higher-order function — acceptable here
    * because the work is O(tokens × extents-in-THIS-doc) and `exists`
    * over the null extent array of an extent-free doc short-circuits).
    * The extent array is a plain join attribute, not an inlined
    * projected expression, so the per-element reference is safe (see
    * the CollapseProject trap in SCALE.md).
    */
  def q104SpanClean(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.spanClean(
      docs(spark, dir),
      "doc_id",
      "text",
      dupExtents(spark, dir).filter(col("n_tokens") >= 5)
    )

  /** Incremental span-level dedup, oracle-checked end to end: the
    * corpus splits into two batches by doc_id parity and ingests through
    * [[graft.operators.Maintenance.incrementalDupSpans]] against a
    * scratch span-hash state. Batch 0's extents follow the within-batch
    * rule alone; batch 1's follow the full prior ∪ batch rule via the
    * durable state — exactly what the DuckDB oracle replays as two
    * differently-scoped copies of the q101 pipeline. Like q96/q97, the
    * bench number times BOTH ingests including the state folds — the
    * durable path is the thing under test. The collect here is the
    * demo-query's materialization (results must outlive the scratch
    * state's cleanup; ~2-20k short rows at test sf) — the OPERATOR
    * itself returns a DataFrame and never collects; production drives
    * [[graft.operators.Maintenance.incrementalDupSpans]] /
    * `spanDedupIngest` directly with parquet sinks.
    */
  def q105IncrementalSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q105")
    val rows =
      try {
        val state = root.resolve("spans").toString
        def ingest(parity: Int, id: Long): IndexedSeq[(Long, Long, Int, Int, Long)] =
          graft.operators.Maintenance
            .incrementalDupSpans(
              spark,
              d.filter(col("doc_id") % 2 === parity),
              "doc_id",
              "text",
              state,
              Some(id),
              // Buckets sized to the scratch state (the SCALE.md rule:
              // state/buckets ≈ one task's partition) — a test-sf state
              // is a few MB, so 8, not the 100 TB default; extents and
              // the oracle are bucket-count-independent.
              stateBuckets = 8
            )
            .collect()
            .toIndexedSeq
            .map(r => (id, r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        ingest(0, 0L) ++ ingest(1, 1L)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("ingest_batch", "doc_id", "start_pos", "end_pos", "n_tokens")
  }

  /** Frozen-LM quality gate, oracle-checked end to end: the corpus
    * splits by doc_id parity — even docs are the REFERENCE corpus the
    * model is built (frozen) from, odd docs are the incoming batch
    * scored against it ([[graft.operators.QualityModel]]). This is the
    * production posture q106 cannot model: the gate a crawl loop runs
    * uses statistics trained on a schedule, not recomputed per batch,
    * so unseen (OOV) bigrams must score a deterministic penalty (22
    * bits — the keep threshold's numerator bound). Rule and integer
    * surprisal are q106's exactly; DuckDB replays the frozen split
    * with the same left joins. Like q105/q96, the query exercises the
    * DURABLE path: the model is built to a scratch dir and the gate
    * reads it back from parquet.
    */
  def q107FrozenLmGate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q107")
    val rows =
      try {
        val model = root.resolve("lm").toString
        graft.operators.QualityModel
          .build(spark, d.filter(col("doc_id") % 2 === 0), "doc_id", "text", model)
        // Demo-query materialization (bounded: one short row per odd
        // doc) — results must outlive the scratch model's cleanup; the
        // OPERATOR returns a DataFrame and never collects.
        graft.operators.QualityModel
          .gate(spark, d.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
          .collect()
          .toIndexedSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("doc_id", "surprisal_bits", "n_bigrams", "avg_bits", "keep_doc")
  }

  /** Incremental-curation STEADY STATE, oracle-checked end to end: the
    * corpus splits by doc_id parity; the quality model freezes on the
    * EVEN docs; batch 0 (evens) runs
    * [[graft.pipeline.Pipeline.curateIngest]] against empty states
    * (populating the durable span-hash state and the dedup index);
    * batch 1 (odds) then runs the SAME composition against the
    * POPULATED states — frozen gate (OOV penalty live), span clean via
    * the partition-pruned state probe, min-token floor, and
    * cross-batch exact dedup against batch 0's accepted hashes. The
    * result is batch 1's ACCEPTED docs — the actual steady state of a
    * crawl loop. q105 proves the span stage incrementally and q107 the
    * frozen gate, each ALONE; the composition has failure modes of its
    * own (stage order, raw-batch extents feeding the fold, hashing the
    * CLEANED text, index scoping by batch partition), which is exactly
    * what the DuckDB replay pins: both parities' four stages with
    * batch-scoped statistics. Scratch-dir + bounded-collect demo
    * materialization as q105/q107 (production drives `curate_ingest`/
    * `curate_stream` with parquet sinks); buckets sized to the scratch
    * state per the SCALE.md rule.
    */
  /** q108's frozen quality model, memoized per (session, corpus dir):
    * the model is a FIXTURE of the steady state, not the thing under
    * test — production freezes it on a schedule (q107's whole point),
    * and every q108 execution rebuilds the identical deterministic
    * statistics from the same even-parity docs, so rebuilding it
    * inside each timed bench rep priced the fixture instead of the
    * two curateIngest batches the row exists to measure (r15 verdict
    * item 4 prescribed exactly this hoist). Results are unchanged by
    * construction: the build is a pure function of (dir, even docs)
    * and the gate reads it back from parquet either way — the DuckDB
    * oracle replays the same frozen split. The memoized dir lives
    * OUTSIDE q108's per-call scratch root (which keeps its per-call
    * lifecycle: spans/index/out state is the thing under test) and is
    * removed at JVM exit.
    */
  private val frozenModelMemo = scala.collection.mutable.HashMap.empty[(String, String), String]
  private def q108FrozenModel(spark: SparkSession, dir: String, evens: DataFrame): String =
    frozenModelMemo.synchronized {
      frozenModelMemo.getOrElseUpdate(
        (sessionKey(spark), dir), {
          val root = java.nio.file.Files.createTempDirectory("graft-q108-model")
          sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
          val model = root.resolve("lm").toString
          graft.operators.QualityModel.build(spark, evens, "doc_id", "text", model)
          model
        }
      )
    }

  def q108CurateSteadyState(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q108")
    val rows =
      try {
        val spans = root.resolve("spans").toString
        val index = root.resolve("index").toString
        val out = root.resolve("out").toString
        val evens = d.filter(col("doc_id") % 2 === 0)
        val odds = d.filter(col("doc_id") % 2 === 1)
        val model = q108FrozenModel(spark, dir, evens)
        graft.pipeline.Pipeline
          .curateIngest(spark, evens, model, spans, index, out, 0L, spanStateBuckets = 8)
        graft.pipeline.Pipeline
          .curateIngest(spark, odds, model, spans, index, out, 1L, spanStateBuckets = 8)
        Parquet.read(spark, s"$out/ingest_batch=1")
          .select(col("doc_id"), col("text"))
          .collect()
          .toIndexedSeq
          .map(r => (r.getLong(0), r.getString(1)))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Deterministic global-shuffle manifest — the training-order step of
    * a data pipeline: every doc gets a pseudo-random 28-bit position
    * hash, lands in one of 8 shards by hash mod, and receives a stable
    * within-shard rank plus an exact cumulative char budget (what a
    * pack-planner reads to cut token-budgeted files). Reproducible
    * under ANY input partitioning: the order is a pure function of
    * doc_id (hash, then doc_id as the collision tiebreak), never of
    * arrival order.
    *
    * Scale: one shuffle (shard key) + a per-shard sort — the
    * `Scale.exportShards` shape with the manifest (not the payload) as
    * output; shard count on a real corpus is thousands, keeping the
    * per-shard sort bounded. The cumulative sum is an integer running
    * window (exact, order-fixed), never a float accumulation.
    */
  def q103ShuffleManifest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    d.select(
      col("doc_id"),
      col("n_chars"),
      h28(concat(lit("gs_"), col("doc_id").cast("string"))).as("h")
    ).withColumn("shard", (col("h") % 8).cast("int"))
      .withColumn("rk", row_number().over(w))
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .select(col("doc_id"), col("shard"), col("rk"), col("cum_chars"))
  }

  /** Sequence-packing manifest (GPT-style concat-then-chunk): documents
    * are laid out in the q103 deterministic shuffle order (shard, then
    * (h, doc_id) within shard), their whitespace-token streams
    * concatenated, and the stream chunked into fixed `budget`-token
    * training sequences; a doc may straddle a pack boundary. The
    * manifest maps every doc to its global token offset and the pack
    * range it lands in — what a training-data loader actually needs to
    * materialize pack k without touching any other pack.
    *
    * Scale shape: the global prefix sum is TWO passes, never a global
    * window — (1) a within-shard running sum (window partitioned by
    * shard: thousands of bounded partitions on a real corpus, same
    * contract as q103), (2) per-shard totals (one row per shard)
    * prefix-summed on the driver and broadcast-joined back as shard
    * offsets. The driver state is O(shards) longs — the q103/export
    * manifest bound, documented alongside the other bounded collects.
    * A single `Window.orderBy` over the corpus (WindowExec on ONE task
    * holding 100 TB of rows) is the shape this replaces; PlanShapeSpec
    * locks its absence.
    */
  /** The packing layout both q110 and q111 share ([[graft.operators.Packing.layout]]):
    * per-doc GLOBAL token offsets in the q103 shuffle order via the
    * two-pass prefix. Returns (doc_id, shard, start_tok, n_toks,
    * end_tok).
    */
  private def packingLayout(spark: SparkSession, dir: String, nShards: Int): DataFrame =
    graft.operators.Packing
      .layout(docs(spark, dir).select(col("doc_id"), col("text")), "doc_id", "text", nShards)

  def q110SequencePacking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.manifest(packingLayout(spark, dir, nShards = 8), "doc_id", 2048L)

  /** Incremental packing STEADY STATE, oracle-checked end to end
    * ([[graft.operators.Packing.packIngest]]): the corpus splits by
    * parity; batch 0 (evens) packs against an empty state (recording
    * its running total), batch 1 (odds) then packs AFTER it — its
    * offsets start at batch 0's total, so batch-0 pack ids are
    * immutable the moment they are emitted (the append-only pack-space
    * contract a training loader relies on). Output = batch 1's
    * manifest; DuckDB replays it as the odds' within-batch cumsum
    * shifted by the evens' grand total. Scratch-dir + bounded-collect
    * demo materialization as q105/q107/q108 (production drives the
    * `pack_ingest` CLI with parquet sinks).
    */
  def q112PackIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q112")
    val rows =
      try {
        val state = root.resolve("packstate").toString
        // batch 0: effects only (state row); its manifest is not the output
        graft.operators.Packing
          .packIngest(spark, d.filter(col("doc_id") % 2 === 0), "doc_id", "text", state, 0L)
          .count()
        graft.operators.Packing
          .packIngest(spark, d.filter(col("doc_id") % 2 === 1), "doc_id", "text", state, 1L)
          .collect()
          .toIndexedSeq
          .map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
          )
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("doc_id", "shard", "start_tok", "n_toks", "first_pack", "last_pack", "n_packs")
  }

  /** Mixture-STRATIFIED packing ([[graft.operators.Packing.layoutBy]]):
    * every source/domain is its own token stream starting at offset 0,
    * chunked into domain-pure packs — the layout mixture control
    * needs: a training schedule then draws pack COUNTS per domain
    * (e.g. 30% web, 30% code, 40% books) without re-shuffling
    * documents, and reweighting the mixture never invalidates emitted
    * packs. Offsets are per (source) via per-(source, shard) running
    * sums + a groups × shards driver prefix (bounded collect,
    * broadcast back); DuckDB replays with one cumsum window per
    * source partition (oracle may, engine never).
    */
  def q113MixturePacking(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    graft.operators.Packing
      .layoutBy(
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        "doc_id",
        "text",
        "source",
        nShards = 8
      )
      .select(
        col("doc_id"),
        col("source"),
        col("shard"),
        col("start_tok"),
        col("n_toks"),
        expr(s"start_tok div $budget").as("first_pack"),
        expr(s"(end_tok - 1) div $budget").as("last_pack")
      )
      .withColumn("n_packs", col("last_pack") - col("first_pack") + 1)
  }

  /** Pack MATERIALIZATION (q110's loader-side counterpart): build the
    * first three 2048-token training sequences as (pack_id,
    * pos_in_pack, doc_id, token) rows — the proof that a loader can
    * materialize pack k in ISOLATION. The manifest prunes the corpus
    * to the docs overlapping the requested pack window BEFORE any text
    * is exploded (`start_tok < packs·budget` on the layout, a
    * straddling doc contributes exactly its in-window prefix), so the
    * exploded volume is O(requested packs · budget) tokens no matter
    * the corpus size. Output provenance (doc_id per position) is what
    * an attribution/contamination audit reads back.
    */
  def q111PackSlices(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val nPacks = 3L
    val window = budget * nPacks
    val sel = packingLayout(spark, dir, nShards = 8)
      .filter(col("start_tok") < window)
      .select(col("doc_id"), col("start_tok"))
    sel
      .join(docs(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(
        col("doc_id"),
        col("start_tok"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "token"))
      )
      .withColumn("gpos", col("start_tok") + col("pos"))
      .filter(col("gpos") < window)
      .select(
        expr(s"gpos div $budget").as("pack_id"),
        (col("gpos") % budget).as("pos_in_pack"),
        col("doc_id"),
        col("token")
      )
  }

  /** STRATIFIED pack materialization (q111's loader scoped to ONE
    * domain of the q113 mixture layout): the first three packs of a
    * single source's domain-pure pack space as (pack_id, pos_in_pack,
    * doc_id, token) rows. Because every source is its OWN token stream
    * starting at offset 0, a source's layout depends only on its own
    * documents — so the loader filters the corpus to the domain
    * BEFORE laying anything out (identical offsets to filtering the
    * full [[graft.operators.Packing.layoutBy]] output, proved by the
    * per-(source, shard) prefix construction), which is the 100 TB
    * path: a mixture schedule drawing "pack k of source s" reads one
    * domain's manifest slice, never the corpus. The probe domain is
    * the lexicographic min source (a 1-row bounded collect); the
    * window prune before the explode keeps the exploded volume
    * O(packs · budget) as in q111.
    */
  def q114StratifiedPackSlices(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val nPacks = 3L
    val window = budget * nPacks
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val src = d.agg(min(col("source"))).collect().head.getString(0)
    val domain = d.filter(col("source") === src)
    val sel = graft.operators.Packing
      .layoutBy(domain, "doc_id", "text", "source", nShards = 8)
      .filter(col("start_tok") < window)
      .select(col("doc_id"), col("start_tok"))
    sel
      .join(domain.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(
        col("doc_id"),
        col("start_tok"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "token"))
      )
      .withColumn("gpos", col("start_tok") + col("pos"))
      .filter(col("gpos") < window)
      .select(
        expr(s"gpos div $budget").as("pack_id"),
        (col("gpos") % budget).as("pos_in_pack"),
        col("doc_id"),
        col("token")
      )
  }

  /** BPE tokenizer training: the first 8 learned merges with their
    * selection-time pair counts. The whole derivation is deterministic
    * (exact counts, total-order argmax, leftmost-non-overlapping merge
    * application), so the DuckDB oracle replays every round by
    * unrolling pair-count → argmax → `replace` per level. Scale notes
    * on [[graft.operators.Bpe]]: only the word histogram touches the
    * corpus; each round is O(distinct words).
    */
  def q115BpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.learn(docs(spark, dir), "text", numMerges = 8)

  /** Segmentation under the learned table: per-document whitespace vs
    * BPE token counts after the q115 merges. The merge fold runs over
    * the DISTINCT-word table (V rows), then one equi-join back to the
    * token stream — apply-side cost is independent of how many times a
    * word repeats, which is the whole point of a word-histogram BPE.
    */
  def q116BpeSegments(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    graft.operators.Bpe.segmentCounts(d, "doc_id", "text", merges)
  }

  /** The tokenizer→packing bridge: the q110 manifest with the budget
    * measured in LEARNED-BPE tokens (q116's per-doc counts) instead of
    * whitespace tokens — pack lengths then match what the trained
    * model actually consumes. Same shuffle order and two-pass prefix
    * as q110 via [[graft.operators.Packing.layoutWeighted]]; the
    * weight column is the only change, and DuckDB replays the whole
    * composition (8 BPE rounds → per-doc counts → global cumsum →
    * pack ranges).
    */
  def q117BpeWeightedPacking(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    val weights = graft.operators.Bpe
      .segmentCounts(d, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val lay = graft.operators.Packing.layoutWeighted(weights, "doc_id", "n_bpe_tokens", nShards = 8)
    graft.operators.Packing.manifest(lay, "doc_id", 2048L)
  }

  /** Token-budget mixture selection ("data recipe executor",
    * [[graft.operators.Packing.selectTokenBudget]]): each source gets
    * a hard token budget (here a deterministic per-source rule,
    * 256·(1 + h28(source) mod 4), standing in for a recipe's weights
    * table) and contributes exactly the greedy prefix of its token
    * stream — the straddling doc truncated via `tok_take`. Unlike
    * q77's probabilistic rate sampling, quotas are met EXACTLY in
    * token space.
    */
  def q118TokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val budgets = d
      .select(col("source"))
      .distinct()
      .withColumn("budget", lit(256L) * (pmod(h28(col("source")), lit(4)) + 1))
    graft.operators.Packing
      .selectTokenBudget(d, "doc_id", "text", "source", budgets, nShards = 8)
  }

  /** The BPE-metered loader ([[graft.operators.Bpe.packSlices]]): the
    * first 3 packs of the q117 stream materialized as MODEL tokens —
    * merged symbols, per-position doc provenance — i.e. the sequences
    * a trainer actually consumes. q111's prune-before-explode contract
    * in BPE space; DuckDB replays the full composition (8 rounds →
    * vocab symbols → weighted layout → per-doc word-prefix × in-word
    * symbol positions → pack grid).
    */
  def q120BpePackSlices(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    graft.operators.Bpe.packSlices(d, "doc_id", "text", merges, nPacks = 3L, budget = 2048L, nShards = 8)
  }

  /** Incremental STRATIFIED packing steady state
    * ([[graft.operators.Packing.packIngest]] with a group column), the q112 composition
    * per domain: batch 0 (evens) populates every source's offset
    * state, batch 1 (odds) lays each source out after its own running
    * total — domain-pure pack spaces that grow append-only per source.
    * Output = batch 1's manifest; DuckDB replays it as each source's
    * within-batch cumsum shifted by that source's evens total.
    */
  def q119StratifiedPackIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-q119")
    val rows =
      try {
        val state = root.resolve("packstate").toString
        graft.operators.Packing
          .packIngest(spark, d.filter(col("doc_id") % 2 === 0), "doc_id", "text", state, 0L, groupCol = Some("source"))
          .count()
        graft.operators.Packing
          .packIngest(spark, d.filter(col("doc_id") % 2 === 1), "doc_id", "text", state, 1L, groupCol = Some("source"))
          .collect()
          .toIndexedSeq
          .map(r =>
            (
              r.getLong(0),
              r.getString(1),
              r.getInt(2),
              r.getLong(3),
              r.getLong(4),
              r.getLong(5),
              r.getLong(6),
              r.getLong(7)
            )
          )
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    import spark.implicits._
    rows.toDF("doc_id", "source", "shard", "start_tok", "n_toks", "first_pack", "last_pack", "n_packs")
  }

  /** Deterministic multi-epoch pack shuffle
    * ([[graft.operators.Packing.epochOrder]]): two seeded permutations
    * of the q110 pack space — the visit-order schedule a multi-epoch
    * training run reads instead of re-shuffling documents. Any worker
    * recomputes the same order from (seed, epoch) alone; the rank is
    * the two-pass prefix over md5-byte buckets, never a global
    * `Window.orderBy` (plan-locked).
    */
  def q121EpochOrder(spark: SparkSession, dir: String): DataFrame = {
    val man = graft.operators.Packing
      .manifest(packingLayout(spark, dir, nShards = 8), "doc_id", 2048L)
    graft.operators.Packing.epochOrder(man, epochs = 2, seed = "ord1")
  }

  /** Per-pack segment/boundary table
    * ([[graft.operators.Packing.boundaries]]): the attention-mask /
    * loss-mask side-file of the q110 manifest — for every (pack, doc)
    * overlap, the segment's start position, length, and whether the
    * doc BEGINS there (the cross-document attention reset points).
    * Pure manifest arithmetic (no text), O(total_tokens/budget +
    * n_docs) rows.
    */
  def q122PackBoundaries(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.boundaries(
      graft.operators.Packing.manifest(packingLayout(spark, dir, nShards = 8), "doc_id", 2048L),
      "doc_id",
      2048L
    )

  /** Quality-CURRICULUM packing: documents binned by deterministic
    * quality rules (q78's integer-exact alpha/stopword gates), each
    * bin laid out as its own domain-pure pack space
    * ([[graft.operators.Packing.layoutBy]] with the COMPUTED bin as
    * the group), plus the curriculum position — packs renumbered
    * highest-quality-bin first (`cur_first`/`cur_last`), which is the
    * anneal-from-clean-to-noisy schedule curriculum training reads.
    * Any derived label can stratify the pack space this way (q113
    * stratifies by a stored column; this derives one); bin-purity
    * means re-weighting the curriculum never moves emitted packs, only
    * the visit order. The bin→base prefix is a ≤3-row collect.
    */
  def q124CurriculumPacking(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val toks = tokens(col("text"))
    val n = size(toks)
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]")))
    val nStop = size(filter(toks, t => t.isin("the", "a", "and", "of")))
    val qbin = when(nStop >= 2 && nAlpha * 10 >= n * 8, lit(2))
      .when(nAlpha * 10 >= n * 8, lit(1))
      .otherwise(lit(0))
    val d = docs(spark, dir).select(col("doc_id"), col("text"), qbin.as("qbin"))
    val lay = graft.operators.Packing
      .layoutBy(d, "doc_id", "text", "qbin", nShards = 8)
    // curriculum bases: per-bin pack counts (≤3 rows), highest bin
    // first — the bounded-collect prefix the packing family uses.
    val counts = lay
      .groupBy(col("qbin"))
      .agg(expr(s"(max(end_tok) + ${budget - 1}) div $budget").as("np"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(-_._1)
    val bases = counts
      .scanLeft((0, 0L, 0L)) { case ((_, acc, _), (b, np)) => (b, acc + np, acc) }
      .drop(1)
      .map { case (b, _, base) => (b, base) }
    import spark.implicits._
    val baseDf = broadcast(bases.toSeq.toDF("qbin", "pack_base"))
    lay
      .join(baseDf, Seq("qbin"))
      .select(
        col("doc_id"),
        col("qbin"),
        col("start_tok"),
        col("n_toks"),
        expr(s"start_tok div $budget").as("first_pack"),
        expr(s"(end_tok - 1) div $budget").as("last_pack"),
        (col("pack_base") + expr(s"start_tok div $budget")).as("cur_first"),
        (col("pack_base") + expr(s"(end_tok - 1) div $budget")).as("cur_last")
      )
  }

  /** Vocabulary table with DENSE ids
    * ([[graft.operators.Vocab.build]]): every distinct corpus token,
    * its frequency, and its 0-based lexicographic rank — the id space
    * integer-encoded training sequences use. The rank is a distributed
    * dense-rank (range partitions + per-partition window + O(parts)
    * driver prefix), never a vocabulary-wide `Window.orderBy`
    * (plan-locked).
    */
  def q125VocabIds(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.build(docs(spark, dir).select(col("text")), "text")

  /** Integer-encoded pack slices
    * ([[graft.operators.Vocab.encodeSlices]]): the q111 loader output
    * joined to the q125 vocabulary — (pack_id, pos_in_pack, doc_id,
    * token_id) rows, the trainer-ready integer sequence with
    * provenance. Slices are pruned to O(packs × budget) before the
    * join, so the encode hop follows the request, not the corpus.
    */
  def q126PackedIds(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.encodeSlices(
      q111PackSlices(spark, dir),
      graft.operators.Vocab.build(docs(spark, dir).select(col("text")), "text")
    )

  /** BPE pack slices INTEGER-encoded ([[graft.operators.Bpe.symbols]]
    * + [[graft.operators.Vocab]]'s dense rank): the q120 model-token
    * loader output mapped through the merge table's symbol id space —
    * the full text→tokenizer→packing→ids chain landing on the
    * (pack_id, pos_in_pack, doc_id, token_id) rows a trainer consumes.
    * The id space is the DISTINCT symbols the merges produce over the
    * corpus (stable under the frozen model), ranked lexicographically
    * by the same range-partitioned two-pass dense rank as q125.
    */
  def q127BpePackedIds(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    val slices =
      graft.operators.Bpe.packSlices(d, "doc_id", "text", merges, nPacks = 3L, budget = 2048L, nShards = 8)
    val vocab = graft.operators.Vocab
      .withIds(graft.operators.Bpe.symbols(d, "text", merges), "token", nParts = 32)
    slices
      .join(vocab, Seq("token"))
      .select(col("pack_id"), col("pos_in_pack"), col("doc_id"), col("token_id"))
  }

  /** Packs as ordered id ARRAYS ([[graft.operators.Vocab.packArrays]])
    * — the literal memory-map shape: one row per pack, its token ids
    * position-sorted into a single `array<bigint>` (plus the position
    * list for hole accounting: empty-token positions drop at the q126
    * encode join). A trainer (or the `pack_export` verb writing the
    * sharded export) reads pack k as one row.
    *
    * The DECLARED query projects the two arrays as space-joined
    * strings: the oracle harness canonicalizes rows by sorting every
    * column, and raw `array<bigint>` cells are unhashable there (the
    * round-9 red row). `array_join` is order-preserving and lossless
    * over bigints, so the hash still covers every element in position
    * order; `packArrays` itself stays array-shaped — that is the
    * library/`pack_export` API, spec-verified in VocabSpec.
    */
  def q128PackArrays(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab
      .packArrays(
        q111PackSlices(spark, dir),
        graft.operators.Vocab.build(docs(spark, dir).select(col("text")), "text")
      )
      .select(
        col("pack_id"),
        array_join(col("positions"), " ").as("positions"),
        array_join(col("token_ids"), " ").as("token_ids")
      )

  /** Pack DECODE ([[graft.operators.Vocab.decodePacks]]): the q128
    * id-arrays mapped back to text through the same frozen vocab —
    * the round-trip that makes an integer export debuggable ("what is
    * IN pack k?") and the user-facing form of the decode path the
    * sft_release gold-proof exercises. decode(encode(x)) == x, so
    * DuckDB replays it WITHOUT touching ids at all: the q111 slice
    * tokens string-aggregated per pack in position order — the oracle
    * checks the whole encode→decode chain collapses to identity.
    */
  def q162DecodePacks(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.Vocab.build(docs(spark, dir).select(col("text")), "text")
    graft.operators.Vocab.decodePacks(
      graft.operators.Vocab.packArrays(q111PackSlices(spark, dir), vocab),
      vocab
    )
  }

  /** Decontamination PURGE decision — the set-membership form of the
    * train-vs-eval audit. [[q54Decontaminate]] attributes each train
    * doc to the eval docs it overlaps (pair-level containment — the
    * forensic view); this query answers the question the pipeline
    * actually acts on: "does this train doc share ANY n-gram with the
    * eval SET, and how much of it" — doc_id % 10 == 0 stands in for
    * the benchmark, every other doc is train, output is per-TRAIN-doc
    * (overlap count, fraction, `contaminated` at the 0.5 default).
    *
    * Scale shape: set semantics make this strictly cheaper than q54
    * at 100 TB. The eval side is tiny (thousands of benchmark docs vs
    * the corpus), so its distinct shingle set broadcasts and the train
    * explode streams map-side through a LEFT SEMI — one output row per
    * matching (doc, shingle) regardless of how many eval docs share
    * the shingle (q54's pair join multiplies by that fan-out; a
    * boilerplate shingle present in 1000 eval docs costs q54 1000
    * rows, this query 1). The only shuffle is the per-doc count over
    * O(overlap) rows. Never a train-vs-train join.
    */
  def q129DecontamPurge(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(spark, dir)
    val isEval = col("doc_id") % 10 === 0
    val evalSet = sh
      .filter(isEval)
      .select(explode(col("sh_ints")).as("shingle"))
      .distinct()
    sh.filter(!isEval)
      .select(col("doc_id"), col("n_sh"), explode(col("sh_ints")).as("shingle"))
      .join(broadcast(evalSet), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("overlap_frac", col("n_overlap").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("overlap_frac") >= 0.5)
      .select(col("doc_id"), col("n_sh"), col("n_overlap"), col("overlap_frac"), col("contaminated"))
  }

  /** Frozen-dictionary OOV monitor — the vocabulary analogue of q123's
    * fertility drift: the q125 dictionary is frozen on the EVEN docs
    * (the training snapshot) and the ODD docs (arriving data) are
    * scored against it per source: token volume, OOV instance count
    * and fraction, and distinct OOV types. Rising OOV is the signal
    * that a domain's text has drifted past the frozen id space (its
    * tokens would all collapse to `<unk>` at encode time) — the
    * dashboard that tells you when to retrain the dictionary, before
    * the trainer sees the damage.
    *
    * Scale shape: the membership join runs over the (source, token)
    * HISTOGRAM, never the token stream — map-side combine collapses
    * repetition first (the Bpe.segmentCounts discipline), so the join
    * side is O(distinct words per source), ~10⁸ rows at 100 TB vs
    * ~10¹³ instances.
    */
  def q130OovDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val frozen = graft.operators.Vocab
      .build(d.filter(col("doc_id") % 2 === 0).select(col("text")), "text")
      .select(col("token"))
    val hist = d
      .filter(col("doc_id") % 2 === 1)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    hist
      .join(frozen.withColumn("in_vocab", lit(1)), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(lit(0L))).as("n_oov"),
        sum(when(col("in_vocab").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov_types")
      )
      .withColumn("oov_frac", col("n_oov").cast("double") / col("n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_oov"), col("n_oov_types"), col("oov_frac"))
  }

  /** Pack contamination audit — provenance paying off: when
    * decontamination (q129) runs AFTER packing, the trainer needs to
    * know which EMITTED packs carry contaminated documents (retire the
    * pack, or mask its positions) without re-packing anything. Joins
    * the contaminated ids against the q110 layout manifest and expands
    * each doc's pack range arithmetically — per pack: how many
    * contaminated docs overlap it and how many of its positions they
    * occupy. No text is read: like q122, this is pure manifest
    * arithmetic (the only explode is the doc's `sequence(first_pack,
    * last_pack)`, and it runs AFTER the contaminated-ids join prunes —
    * O(contam docs × packs-per-doc) rows at any corpus size).
    */
  def q131PackContamAudit(spark: SparkSession, dir: String): DataFrame = {
    val contam = q129DecontamPurge(spark, dir)
      .filter(col("contaminated"))
      .select(col("doc_id"))
    graft.operators.Packing
      .contamAudit(q110SequencePacking(spark, dir), contam, "doc_id", budget = 2048L)
  }

  /** The retirement DECISION over q131's audit
    * ([[graft.operators.Packing.retirePacks]]) — the step that applies
    * decontamination to an emitted pack space without re-packing:
    * per contaminated pack, its contaminated-position fraction and
    * the `retired` verdict at the conservative 0 threshold (any
    * contaminated token retires). This table is the mask side-file
    * `materializePacks`/`pack_export` honor (spec: a retired pack
    * never materializes; the export prints the withheld count).
    * Same manifest-arithmetic scale shape as q131 — the decision
    * itself is a projection over O(contaminated packs) rows.
    */
  def q132RetirePacks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing
      .retirePacks(q131PackContamAudit(spark, dir), budget = 2048L)

  /** Position-level loss-mask intervals over the q110 pack space —
    * [[graft.operators.Packing.maskIntervals]], the surgical
    * alternative q132's whole-pack retirement composes with: per
    * (contaminated doc, pack it overlaps), the half-open PACK-LOCAL
    * token interval the trainer zeroes loss on, with the doc id as
    * attribution. q131's audit is exactly this table rolled up per
    * pack (spec-locked); same manifest-arithmetic scale shape — ids
    * broadcast-join the manifest before the pack-range explode, no
    * text read.
    */
  def q134MaskIntervals(spark: SparkSession, dir: String): DataFrame = {
    val contam = q129DecontamPurge(spark, dir)
      .filter(col("contaminated"))
      .select(col("doc_id"))
    graft.operators.Packing
      .maskIntervals(q110SequencePacking(spark, dir), contam, "doc_id", budget = 2048L)
  }

  /** Tokenizer FERTILITY DRIFT monitor: the q115 merges frozen on the
    * even docs, applied to the odd docs, aggregated per source — the
    * production observable that tells a crawl operator which domain's
    * text has drifted away from the tokenizer's training distribution
    * (fertility = model tokens per whitespace word rises as merges
    * stop firing). Frozen-model posture as q107/q117: the merge fold
    * runs over the APPLY batch's distinct words (unseen words still
    * segment — mostly to characters), never retrains. `fert_milli` is
    * integer-exact (1000·Σbpe div Σws) so the oracle hash is stable.
    */
  def q123FertilityDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("source"), col("text"))
    val merges = graft.operators.Bpe
      .learnMerges(d.filter(col("doc_id") % 2 === 0), "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    val odds = d.filter(col("doc_id") % 2 === 1)
    graft.operators.Bpe
      .segmentCounts(odds, "doc_id", "text", merges)
      .join(odds.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_ws"),
        sum(col("n_bpe_tokens")).as("sum_bpe")
      )
      .withColumn("fert_milli", expr("(1000 * sum_bpe) div sum_ws"))
  }

  /** FUZZY decontamination: train docs (doc_id % 10 ≠ 0) that are
    * MinHash-LSH near-duplicates of a single eval doc (doc_id % 10 =
    * 0) — [[graft.operators.Dedup.decontamFuzzyAgainst]] over the
    * shared shingle table, q22's banding (16 hashes, 4 bands × 4 rows)
    * with candidacy restricted to train×eval instead of the self-join.
    * The pair-attributed, single-item-verified refinement of q129's
    * pooled-overlap purge (which dominates it on recall but cannot
    * attribute, and over-fires on shingles assembled from many
    * different eval items). Verdict at Jaccard ≥ 0.5; sub-threshold
    * band collisions stay visible as the audit tail.
    */
  def q133FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(spark, dir)
      .select(col("doc_id"), col("sh_ints"))
      .filter(size(col("sh_ints")) > 0) // the [[Dedup.shingleSets]] contract
    val isEval = col("doc_id") % 10 === 0
    graft.operators.Dedup.decontamFuzzyAgainst(
      sh.filter(!isEval),
      sh.filter(isEval),
      "doc_id",
      threshold = 0.5
    )
  }

  /** Loader RESUME slice ([[graft.operators.Packing.resumeSlice]]):
    * the q121 two-epoch schedule consumed epoch-major in steps of 4
    * packs, interrupted halfway through epoch 0 — the output is the
    * remaining schedule with each row's flattened `global_ord`. The
    * interruption point is derived from the pack space itself
    * (`steps = ppe div (2·batch)`, so the query exercises a genuine
    * mid-epoch restart at every SF); the head row of the slice is the
    * resume point. Restart cost is a filter over the schedule — no
    * shuffle, no window, no text — so resuming a 100 TB run at step k
    * reads manifests only.
    */
  def q136ResumeSlice(spark: SparkSession, dir: String): DataFrame = {
    val man = graft.operators.Packing
      .manifest(packingLayout(spark, dir, nShards = 8), "doc_id", 2048L)
    val sched = graft.operators.Packing.epochOrder(man, epochs = 2, seed = "ord1")
    val ppe = sched.agg(max(col("ord"))).head().getLong(0) + 1L
    val batch = 4L
    graft.operators.Packing.resumeSlice(sched, globalStep = ppe / (2L * batch), batchSize = batch)
  }

  /** Temperature-scaled mixture weights
    * ([[graft.operators.Packing.temperatureWeights]], α = 0.5): per
    * source, its whitespace-token total and the p^α sampling weight /
    * upsampling repeat factor relative to the largest source, as
    * IEEE-exact micro-ints (`sqrt` and division are correctly rounded,
    * so `floor(1e6·…)` is bit-stable across engines — the property
    * that makes this α oracle-hashable). The mixture-control
    * counterpart of q118's hard quotas: q118 meters exact token counts
    * per domain, this sets the RATES a sampler draws domains at so
    * low-resource sources are upsampled sub-linearly (α < 1) instead
    * of crowded out. One hash agg over the corpus (manifest-ready at
    * 100 TB: feed it n_toks from the layout instead of text).
    */
  def q137TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.temperatureWeights(
      docs(spark, dir).select(col("source"), col("text")),
      "source",
      size(split(col("text"), "\\s+")).cast("long"),
      alpha = 0.5
    )

  /** Pack-space efficiency audit
    * ([[graft.operators.Packing.packEfficiency]]) over the q113
    * stratified layout: per source, how many positions its domain-pure
    * pack space wastes (all in the tail pack — interior packs are full
    * by construction) and the integer-exact wasted-compute fraction.
    * The telemetry a mixture schedule reads when choosing budget /
    * stratification granularity: finer strata buy domain purity at
    * O(groups·budget) total tail waste. One hash agg over the layout
    * manifest — no text, output O(sources).
    */
  def q138PackEfficiency(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packEfficiency(
      graft.operators.Packing.layoutBy(
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        "doc_id",
        "text",
        "source",
        nShards = 8
      ),
      budget = 2048L,
      groupCols = Seq("source")
    )

  /** Exact token-budget apportionment
    * ([[graft.operators.Packing.apportionBudget]]): the q137
    * temperature weights turned into HARD per-source token quotas that
    * sum to EXACTLY 1M tokens — Hamilton largest-remainder over BigInt
    * arithmetic, no floating point, ties to the smaller source key.
    * The bridge in the mixture chain: q137 sets sampling RATES, this
    * converts them to the integer quotas q118's `selectTokenBudget`
    * meters out as clean document-prefix cuts. Bounded-collect
    * apportionment over the domain-grained weight table (the layout
    * prefix discipline); DuckDB replays with HUGEINT div/mod and a
    * remainder-rank window.
    */
  def q139ApportionBudget(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.apportionBudget(
      q137TemperatureMix(spark, dir).select(col("source"), col("w_micro")),
      "source",
      "w_micro",
      totalBudget = 1000000L
    )

  /** Pack PROVENANCE ([[graft.operators.Packing.provenance]]): the
    * governance side-file over the q110 pack space — per (pack,
    * source), how many documents of that source contribute and how
    * many of the pack's token positions they occupy. Answers "which
    * sources are in pack X, at what weight" (license audits) and
    * resolves a takedown to the affected packs by one scan of this
    * table instead of a corpus scan. Pure manifest arithmetic: the
    * manifest joins the doc→source map on the id (both O(docs), no
    * text), explodes each doc's spanned pack range, and one keyed agg
    * rolls up; token accounting is exact — a pack's rows sum to its
    * fill. DuckDB replays the layout cumsum + the same interval
    * arithmetic.
    */
  def q140PackProvenance(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.provenance(
      graft.operators.Packing
        .manifest(packingLayout(spark, dir, nShards = 8), "doc_id", 2048L),
      docs(spark, dir).select(col("doc_id"), col("source")),
      "doc_id",
      budget = 2048L,
      attrCols = Seq("source")
    )

  /** Leakage-free train/heldout split
    * ([[graft.operators.Dedup.leakageFreeSplit]]): every document
    * labeled with its near-dup cluster (connected component of the
    * q21 Jaccard pairs; its own id when unpaired) and assigned
    * train/heldout by hashing the CLUSTER at 10% heldout — so no
    * near-dup pair straddles the boundary and the heldout set
    * measures generalization, not memorization (the dedup-before-
    * split discipline of Lee et al. 2021). Components over the
    * bounded pair table, one left join keyed on the id, per-row hash
    * — no text, no collects. DuckDB replays the q36 recursive
    * closure, the singleton coalesce, and the md5-prefix threshold.
    */
  def q141LeakageSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.leakageFreeSplit(
      docs(spark, dir).select(col("doc_id")),
      q21NgramJaccard(spark, dir).select(col("doc_a"), col("doc_b")),
      "doc_id",
      heldoutPerMille = 100,
      seed = "split"
    )

  /** Nested deterministic subsample grid
    * ([[graft.operators.Scale.nestedSampleTiers]]): every doc labeled
    * with the deepest 1/10^k grid tier containing it (k = 0..3),
    * tiers strict subsets by the divisibility chain — the sampling
    * primitive of a scaling-law sweep, where the 0.1% run's corpus
    * must be literally inside the 1% run's so the scale axis is
    * isolated from sampling noise. Pure per-row projection of the
    * portable md5-prefix hash; membership is a function of the id
    * alone, so tiers never churn as the corpus grows. DuckDB replays
    * the hash and the CASE chain.
    */
  def q142NestedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.nestedSampleTiers(
      docs(spark, dir).select(col("doc_id")),
      "doc_id",
      seed = "grid",
      maxTier = 3
    )

  /** Multi-phase curriculum quotas
    * ([[graft.operators.Packing.apportionBudgetBy]]): a two-phase
    * training schedule's exact token quotas in one table — the
    * 'warm' phase apportions 2M tokens proportionally to corpus
    * share (weight = raw tok_total), the 'anneal' phase apportions
    * 1M by the q137 α=0.5 temperature weights (flattened toward the
    * small domains). Per phase Σ quota == the phase budget EXACTLY
    * (Hamilton largest-remainder, BigInt, ties to the smaller
    * source). DuckDB replays both weight derivations and the
    * per-phase remainder rank with HUGEINT div/mod.
    */
  def q146PhaseQuotas(spark: SparkSession, dir: String): DataFrame = {
    val totals = docs(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")).as("tok_total"))
    val warm = totals.select(
      lit("warm").as("phase"),
      col("source"),
      col("tok_total").as("w"),
      lit(2000000L).as("phase_budget")
    )
    val anneal = q137TemperatureMix(spark, dir).select(
      lit("anneal").as("phase"),
      col("source"),
      col("w_micro").as("w"),
      lit(1000000L).as("phase_budget")
    )
    graft.operators.Packing.apportionBudgetBy(
      warm.unionByName(anneal),
      "phase",
      "source",
      "w",
      "phase_budget"
    )
  }

  /** Corpus release diff ([[graft.operators.Maintenance.snapshotDiff]]):
    * per-doc added/removed/changed/unchanged between two simulated
    * releases of the documents table — the old snapshot drops ids
    * ≡3 (mod 10), the new drops ids ≡7 (mod 10) and revises the text
    * of ids ≡5 (mod 13). The diff is two fingerprint projections
    * (md5 at the scan — text never shuffles) and one id-keyed
    * full-outer join; DuckDB replays the same md5 compare.
    */
  def q143SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val oldSnap = d.filter(col("doc_id") % 10 =!= 3)
    val newSnap = d
      .filter(col("doc_id") % 10 =!= 7)
      .withColumn(
        "text",
        when(col("doc_id") % 13 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))
      )
    graft.operators.Maintenance
      .snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
      .select(col("doc_id"), col("status"))
  }

  /** Pack-efficiency budget sweep
    * ([[graft.operators.Packing.efficiencySweep]]): the q138 tail-waste
    * audit at four candidate sequence lengths (512/1024/2048/4096) in
    * one pass — the table a training run reads to pick its budget. One
    * manifest agg then a 4-way literal explode of integer arithmetic;
    * DuckDB replays with a CROSS JOIN over VALUES.
    */
  def q144EfficiencySweep(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.efficiencySweep(
      graft.operators.Packing.layoutBy(
        docs(spark, dir).select(col("doc_id"), col("source"), col("text")),
        "doc_id",
        "text",
        "source",
        nShards = 8
      ),
      budgets = Seq(512L, 1024L, 2048L, 4096L),
      groupCols = Seq("source")
    )

  /** Quality-aware dedup survivor selection
    * ([[graft.operators.Dedup.keepBestOfCluster]]): every doc labeled
    * with its q21-pair near-dup component and whether it is the
    * cluster's KEEP — the argmax-token-count copy, ties to the smaller
    * id — upgrading q32's greedy smaller-id drop to the
    * keep-the-longest-copy rule production pipelines use. Components
    * over the bounded pair table, one per-component argmax agg, one
    * component-keyed join back; no text moves. DuckDB replays the q36
    * recursive closure plus a row_number window.
    */
  def q145ClusterBest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.keepBestOfCluster(
      docs(spark, dir).select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_toks")
      ),
      q21NgramJaccard(spark, dir).select(col("doc_a"), col("doc_b")),
      "doc_id",
      "n_toks"
    )

  /** Epochs-to-exhaustion budget audit
    * ([[graft.operators.Packing.budgetExhaustion]]): the q137
    * temperature mixture pointed at a 10M-token training budget —
    * per source, the exact Hamilton quota, the milli-epochs of
    * repetition that quota implies over the tokens the source
    * actually has, and the over-cap flag at 4 epochs (the
    * data-constrained-scaling ceiling). The pre-flight check that a
    * mixture plan survives its budget without degraded repetition.
    * Same bounded-collect arithmetic as q139; DuckDB replays the
    * Hamilton window plus one floor division.
    */
  def q165BudgetExhaustion(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.budgetExhaustion(
      q137TemperatureMix(spark, dir).select(col("source"), col("w_micro"), col("tok_total")),
      "source",
      "w_micro",
      "tok_total",
      totalBudget = 10000000L
    )

  /** Sliding-window chunking ([[graft.operators.Chunking.slidingChunks]]):
    * every document split into 32-token windows at stride 24 — the
    * long-document primitive of embedding/retrieval pipelines (encoder
    * context windows with overlap so boundary-spanning text survives
    * in SOME chunk). Chunks are purely positional and emitted only
    * when they ADD tokens (the tail is covered exactly once); empty
    * docs emit nothing. One per-row explode of built-in array
    * expressions — no shuffle, no UDF; DuckDB replays with range +
    * list slicing.
    */
  def q171SlidingChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.slidingChunks(
      docs(spark, dir).select(col("doc_id"), col("text")),
      "doc_id",
      "text",
      window = 32L,
      stride = 24L
    )

  /** MODEL-token sliding chunks
    * ([[graft.operators.Chunking.bpeChunks]]): q171's windows measured
    * in the tokens the q115/q116 learned BPE table produces instead of
    * whitespace words — long-context prep for a trained tokenizer,
    * where the window must be what the model actually consumes. Same
    * emission rule and zero-shuffle per-row shape; the BPE apply is
    * the native per-word expression ([[graft.operators.Bpe.modelTokens]]
    * documents why the per-occurrence apply beats the distinct-word
    * join when tokens must stay in per-doc order). DuckDB replays the
    * 8 merge rounds, the per-word apply over the distinct-word vocab,
    * the per-doc word-prefix × in-word-position grid, and the window
    * arithmetic.
    */
  def q175BpeChunks(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    graft.operators.Chunking.bpeChunks(
      d.select(col("doc_id"), col("text")),
      "doc_id",
      "text",
      merges,
      window = 32L,
      stride = 24L
    )
  }

  /** Few-shot prompt assembly ([[graft.operators.FewShot.assemble]]):
    * docs with `doc_id % 10 == 0` stand in for the eval set, the rest
    * are the demonstration pool — every eval item gets 3 seeded-hash
    * shots from the TRAIN pool only (leakage-safe by construction:
    * the eval table never enters the shot join) and the rendered
    * `shot₁ shot₂ shot₃ query` prompt. Shot ids project as a joined
    * STRING (the q128 lesson: raw arrays break the checker's hash).
    * Dense-rank the pool once (two-pass), k-row explode, one
    * rank-keyed join, one eval-keyed render agg; DuckDB replays the
    * hash, the rank, and the ordered string_aggs.
    */
  def q173FewshotPrompts(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    graft.operators.FewShot
      .assemble(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id",
        "text",
        k = 3,
        seed = "fs"
      )
      .select(
        col("doc_id"),
        expr("array_join(transform(shot_ids, x -> cast(x as string)), ',')").as("shot_ids"),
        col("prompt")
      )
  }

  /** Without-replacement few-shot assembly
    * ([[graft.operators.FewShot.assembleDistinct]]): q173's seeded
    * draw with k DISTINCT shots guaranteed — collisions resolved by a
    * deterministic forward linear probe in rank space, still a pure
    * function of (seed, ids). The fixture makes collisions REAL: the
    * train pool is docs with `doc_id % 97 == 0` (tens of rows at
    * sf0.01), k = 5, so the independent-slots form demonstrably
    * repeats shots while this one never does. DuckDB replays the
    * probe by unrolling the five slots as chained CTEs (slot i's
    * chosen rank = the first untaken candidate on its probe walk
    * given slots < i).
    */
  def q176FewshotDistinct(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    graft.operators.FewShot
      .assembleDistinct(
        d.filter(col("doc_id") % 97 === 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id",
        "text",
        k = 5,
        seed = "fsd"
      )
      .select(
        col("doc_id"),
        expr("array_join(transform(shot_ids, x -> cast(x as string)), ',')").as("shot_ids"),
        col("prompt")
      )
  }

  /** Duplication profile ([[graft.operators.Dedup.dupProfile]]): the
    * histogram of near-dup cluster sizes over the q21 Jaccard pair
    * closure — per size k: clusters, documents, micro-share of the
    * corpus; singletons are size-1 clusters so the rows partition
    * the corpus exactly. The governance number a dedup policy starts
    * from and a crawl-health dashboard trends. Components over the
    * bounded pair table + two keyed aggs; DuckDB replays the q141
    * recursive closure and the histogram.
    */
  def q170DupProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupProfile(
      docs(spark, dir).select(col("doc_id")),
      q21NgramJaccard(spark, dir).select(col("doc_a"), col("doc_b")),
      "doc_id"
    )

  /** Semantic (in-context) packing — the composition published as
    * in-context pretraining (Shi et al. 2023, arXiv:2310.10638):
    * training sequences read better when a context window holds
    * RELATED documents, so the pack layout stratifies by semantic
    * cluster instead of by source — each cluster gets its own pure
    * pack space and a pack never mixes clusters. This engine's form
    * is the cluster-blocked one (the paper's greedy
    * nearest-neighbor traversal is a within-cluster refinement on
    * top; cluster blocking is the part that changes the pack
    * spaces): the deterministic q58 k-means assignment
    * (`cluster_iter2`) becomes [[graft.operators.Packing.layoutBy]]'s
    * stratification key. Pure composition of two oracle-verified
    * operators — the same per-group two-pass prefix layout as q113,
    * keyed by cluster; docs without an embedding (no cluster
    * evidence) are excluded by the inner join, documented. DuckDB
    * replays the k-means chain + the per-cluster layout window.
    */
  def q168SemanticPacking(spark: SparkSession, dir: String): DataFrame = {
    val clusters = VectorQueries
      .q58KMeans(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cluster_iter2").as("cluster"))
    val budget = 2048L
    graft.operators.Packing
      .layoutBy(
        docs(spark, dir).join(clusters, Seq("doc_id")).select(col("doc_id"), col("cluster"), col("text")),
        "doc_id",
        "text",
        "cluster",
        nShards = 8
      )
      .select(
        col("doc_id"),
        col("cluster"),
        col("shard"),
        col("start_tok"),
        col("n_toks"),
        expr(s"start_tok div $budget").as("first_pack"),
        expr(s"(end_tok - 1) div $budget").as("last_pack")
      )
      .withColumn("n_packs", col("last_pack") - col("first_pack") + 1)
  }

  /** Vocabulary coverage curve
    * ([[graft.operators.Vocab.coverageCurve]]): for each coverage
    * target (50%/90%/95%/99%), the smallest number of token types —
    * taken most-frequent-first, ties lexicographic — whose
    * occurrences cover that share of the corpus token stream: the
    * Zipf audit every dictionary/BPE sizing decision starts from.
    * One histogram agg, the pinned two-pass range-partitioned
    * rank+prefix-sum (never a corpus-wide single-task window), a
    * 4-row broadcast probe; the coverage test is multiplication
    * only. DuckDB replays with one ordered window.
    */
  def q167VocabCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Vocab.coverageCurve(docs(spark, dir).select(col("text")), "text")

  /** DSIR-style importance selection
    * ([[graft.operators.Importance]]): docs with `doc_id % 10 == 0`
    * stand in for the curated TARGET seed set; every document's
    * bigrams hash into 1024 buckets, each bucket gets the add-one
    * smoothed target/raw count ratio in exact integer micro-units
    * (the engine's libm-free surrogate for the paper's log ratio),
    * each document scores as the sum over its bigram occurrences,
    * and the top 500 by length-normalized score (ties to the
    * smaller id) are kept — the data-selection pass that upsamples
    * target-like raw data. Two bigram explodes (histogram + score),
    * a BROADCAST O(buckets) join, one per-doc agg, and a
    * TakeOrderedAndProject top-k; text never shuffles. DuckDB
    * replays the hash, the smoothed ratio, and the top-k verbatim.
    */
  def q164DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val raw = docs(spark, dir)
      .select(col("doc_id"), col("text"), (col("doc_id") % 10 === 0).as("is_target"))
    val weights =
      graft.operators.Importance.ngramImportanceWeights(raw, "text", "is_target", buckets = 1024)
    graft.operators.Importance.selectByImportance(
      graft.operators.Importance.importanceScores(raw, "doc_id", "text", weights, buckets = 1024),
      "doc_id",
      k = 500
    )
  }
}
