package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators for long-lived parquet datasets — the
  * jobs a 100 TB corpus needs on a schedule, not per query.
  */
object Maintenance {

  private type HPath = org.apache.hadoop.fs.Path
  private type HFs = org.apache.hadoop.fs.FileSystem

  /** Label the driver actions `body` issues (guide §1.5) so the UI /
    * ProfileQuery attribute each job to its operator stage instead of
    * an anonymous AQE-stage frame. Thread-local: concurrent overlapped
    * actions on other threads are unaffected.
    */
  private[graft] def labeledJobs[T](
      spark: org.apache.spark.sql.SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(null)
  }

  /** Hadoop `FileSystem.rename` signals failure by returning false, not
    * throwing — an unchecked call can silently strand or delete data.
    */
  private[graft] def renameOrFail(fs: HFs, from: HPath, to: HPath): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  /** Crash recovery for the two-rename swap, run on ENTRY before any
    * read of `target`: a leftover `old` with `target` missing means a
    * prior run died between the two renames — the accumulated state is
    * stranded in `old`, and proceeding without restoring it would
    * silently rebuild from scratch. `old` alongside an intact `target`
    * is garbage from a crash after the second rename; drop it so the
    * upcoming `rename(target, old)` cannot fail on collision.
    */
  private[operators] def recoverSwap(fs: HFs, target: HPath, old: HPath): Unit =
    if (fs.exists(old)) {
      if (!fs.exists(target)) renameOrFail(fs, old, target)
      else if (!fs.delete(old, true))
        throw new java.io.IOException(s"cannot clear stale swap dir $old")
    }

  /** Atomically (up to the rename pair) move `tmp` into `target`. Every
    * rename is checked; the final delete of `old` is best-effort — at
    * that point `target` is already the new state, and a leftover `old`
    * is cleaned by [[recoverSwap]] on the next run.
    */
  private[operators] def swapInto(fs: HFs, tmp: HPath, target: HPath, old: HPath): Unit =
    if (fs.exists(target)) {
      renameOrFail(fs, target, old)
      renameOrFail(fs, tmp, target)
      fs.delete(old, true)
    } else renameOrFail(fs, tmp, target)

  /** Small-file compaction: rewrite a parquet dataset into
    * ~`targetFileBytes` files. Incremental pipelines (one file per run,
    * `coalesce(1)` loads) accumulate thousands of small files; every
    * downstream scan then pays per-file open/footer costs and the
    * driver pays listing. Compaction sizes the rewrite from the ACTUAL
    * on-disk byte size (Hadoop `getContentSummary`, not a row count —
    * no data scan to plan the job) and writes via a fresh temp dir +
    * two renames so a crashed compaction never leaves a half-written
    * dataset in place.
    *
    * Returns the number of output files written.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$path.__compact_old")
    // Fenced like every other whole-dir rewriter (r16): run against a
    // rollup/state path concurrently with a leased foldState, an
    // unfenced compact would race the very renames the leases
    // serialize. Single-shot adhoc token — a crashed compact leaves no
    // partial state in place (the swap is last), so the retry runbook
    // is lease_break + re-run, not token re-entry.
    withWriterLease(fs, path, adhocToken("compact"), "compact") {
      // Restore state stranded by a prior crash BEFORE reading the input.
      recoverSwap(fs, fsPath, old)
      val bytes = fs.getContentSummary(fsPath).getLength
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

      spark.read.parquet(path).repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
      swapInto(fs, tmp, fsPath, old)

      fs.listStatus(fsPath).count(_.getPath.getName.endsWith(".parquet"))
    }
  }

  /** Incremental (cross-snapshot) exact dedup: drop incoming documents
    * whose content hash already exists in the corpus-wide hash index,
    * dedup the survivors among themselves, and append their hashes to
    * the index. The index holds ONE short row per unique document ever
    * accepted — the only state the 100 TB ingest loop carries — and
    * both probes are hash-keyed joins (a left-anti against the index,
    * then the in-batch keep-min rule).
    *
    * The index SELF-COMPACTS, size-TIERED: each batch appends a
    * bounded number of size-targeted files (never
    * shuffle-partition-many), and when the accumulated file count
    * crosses `maxIndexFiles`, [[tierIndexFiles]] merges every file
    * EXCEPT those larger than the sum of all smaller peers ("settled"
    * — the span state's LSM rule). A byte is therefore rewritten only
    * when the accumulated smaller files rival it: amortized per-batch
    * write volume is O(batch · log(index/batch)) —
    * corpus-size-INDEPENDENT, unlike a full rewrite's
    * O(index/maxIndexFiles), which grows with crawl age (~25 GB/batch
    * at a 100 TB corpus). Settled-file count is O(log index), so the
    * probe's footer fan-out stays bounded without the threshold ever
    * re-triggering on settled files alone. The trigger is a file-count
    * threshold (one listing per batch, sizes riding the same listing;
    * no data scan). Set `maxIndexFiles = 0` to disable (callers
    * scheduling [[compact]] — the full read-optimize pass — or
    * [[tierIndexFiles]] themselves).
    *
    * Returns the accepted (previously unseen, in-batch-deduped) rows.
    */
  def incrementalDedup(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      bloomFpp: Double = 0.0,
      indexSizeHint: Option[Long] = None,
      maxIndexFiles: Int = 64
  ): DataFrame = {
    val leaseFs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Single-writer fence (r16): two concurrent batches sharing a
    // content hash both pass the index probe and both get ACCEPTED —
    // the duplicate lands in the output corpus silently, the very
    // thing the operator exists to prevent; and two concurrent tier
    // compactions can delete victim files out from under each other's
    // reads. Adhoc token: the operator has no applied id (callers
    // wanting replay convergence use the batch-keyed streaming arm),
    // so the crash runbook is lease_break + re-run.
    withWriterLease(leaseFs, indexPath, adhocToken("dedup"), "incrementalDedup") {
    val hashed = batch.withColumn("__h", md5(col(textCol)))
    val indexExists = leaseFs.exists(new org.apache.hadoop.fs.Path(indexPath))
    val fresh =
      if (indexExists) {
        val index = spark.read.parquet(indexPath)
        if (bloomFpp > 0.0) {
          // Bloom pre-filter (Spark's runtime-filter pattern as a library
          // op): rows whose hash is DEFINITELY not in the corpus skip the
          // exact anti-join entirely — only might-contain rows (true dups
          // + an fpp-sized sliver) consult the index, so the join's probe
          // side shrinks from |batch| to ≈|dups|. False positives are
          // re-checked exactly below; false negatives cannot occur, so
          // semantics are identical to the plain anti-join (spec-proved,
          // incl. null text). Sizing comes from `indexSizeHint` when the
          // ingest loop maintains a row count (at real scale it should —
          // the fallback count() is an extra 1-column index scan).
          graft.functions.GraftFunctions.register(spark)
          // And on the batch's own session: inside foreachBatch the
          // batch belongs to a per-stream clone whose registry snapshot
          // may predate this call on the outer session.
          graft.functions.GraftFunctions.register(batch.sparkSession)
          val n = indexSizeHint.getOrElse(index.count())
          val bf = index.stat.bloomFilter("__h", math.max(n, 1024L), bloomFpp)
          // NULL-safe split: a null text gives a null hash, the probe
          // evaluates null, and a bare filter pair would drop the row
          // from BOTH branches. Nulls are routed to the exact join,
          // which (like the bloomFpp=0 path) keeps them — null never
          // matches the index.
          val probe = coalesce(
            graft.functions.GraftFunctions.graft_bloom_contains(col("__h"), bf),
            lit(true)
          )
          // The two branches would otherwise each recompute the batch
          // (and its hashes); settle it once.
          val settled = hashed.localCheckpoint()
          settled
            .filter(!probe)
            .unionByName(settled.filter(probe).join(index, Seq("__h"), "left_anti"))
        } else hashed.join(index, Seq("__h"), "left_anti")
      } else hashed
    val accepted = Dedup
      .dedupExact(fresh, idCol, textCol)
      .localCheckpoint() // settle survivors BEFORE the index grows
    // Size the append from the (already-settled) accepted count: ~40 B
    // per md5 row → one file per ~3M hashes, instead of one file per
    // shuffle partition per batch.
    val nAcc = accepted.count()
    accepted
      .select(col("__h"))
      .distinct()
      .coalesce(math.max(1L, nAcc / 3000000L).toInt)
      .write
      .mode("append")
      .parquet(indexPath)
    if (maxIndexFiles > 0) tierIndexFiles(spark, indexPath, maxIndexFiles)
    accepted.drop("__h")
    } // withWriterLease
  }

  /** Size-tiered self-compaction for a flat set-semantics index
    * directory — the [[incrementalDedup]] hash index, the
    * [[NearDupIndex]] signature index, or any parquet dir whose
    * content is a row SET probed by joins that tolerate duplicates:
    * when more than `maxIndexFiles` parquet files have accumulated,
    * merge every file EXCEPT those larger than the sum of all smaller
    * peers — the settled files are the LSM base levels, and merging
    * them before their smaller peers rival them would be premature
    * rewrite. The merged rows are distinct-ed over ALL columns (set
    * semantics), written size-targeted (`targetFileBytes`) to a
    * sibling tmp dir, MOVED IN file-by-file, and only then are the
    * victims deleted.
    *
    * Crash-safe with no marker, by the same argument as the span
    * state's segment compaction: a set probed by anti-/equi-joins
    * whose consumers dedup (or don't care) is unchanged by duplicate
    * rows across files. Every crash point leaves the set intact — tmp
    * written but nothing moved (victims untouched; the stale tmp is
    * pre-commit garbage, dropped on the next trigger's entry), some
    * merged files moved (duplicates of still-present victims), or
    * victims half-deleted (merged files already hold their union) —
    * and the next trigger sweeps leftovers into the tiers.
    *
    * Cost shape: one listing per call (file sizes ride the listing —
    * no per-file metadata fan-out); the merge reads and writes only
    * the non-settled tail, giving O(log) write amplification over a
    * crawl (measured flat per batch by CurateStress's dedup mode,
    * where the old full-rewrite policy grows with crawl age).
    */
  def tierIndexFiles(
      spark: SparkSession,
      indexPath: String,
      maxIndexFiles: Int,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Unit = {
    require(maxIndexFiles > 0, "maxIndexFiles must be positive")
    val root = new HPath(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val tmp = new HPath(s"$indexPath.__tier_tmp")
    // A stale tmp is pre-move garbage (moves happen only after the
    // write completes, and victims outlive every unmoved tmp file).
    deleteOrFail(fs, tmp)
    val files = fs
      .listStatus(root)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath -> st.getLen)
    if (files.length <= maxIndexFiles) return
    // Peel the settled head: strictly larger than the sum of all
    // smaller peers ⇒ merging it now buys nothing (its bytes would be
    // rewritten without shrinking the count below the settled bound).
    var tail = files.toList.sortBy(-_._2)
    while (tail.nonEmpty && tail.head._2 > tail.tail.map(_._2).sum) tail = tail.tail
    if (tail.length < 2) return
    val victims = tail
    val bytes = victims.map(_._2).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read
      .parquet(victims.map(_._1.toString): _*)
      .distinct()
      .coalesce(nOut)
      .write
      .parquet(tmp.toString)
    // Move merged files in BEFORE any victim dies: every prefix of
    // this sequence leaves the hash set complete. Part-file names
    // carry the write job's UUID, so they cannot collide with
    // existing appends.
    fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach(st => renameOrFail(fs, st.getPath, new HPath(root, st.getPath.getName)))
    victims.foreach { case (p, _) => deleteOrFail(fs, p) }
    deleteOrFail(fs, tmp)
  }

  /** Scheduled read-optimize for a single-level hive-partitioned state
    * dir (the IVF `assignments/cluster=` layout, or any `k=v`
    * partitioned table whose partitions accumulate one file per ingest
    * batch): rewrite every partition dir holding more than
    * `minFilesPerDir` parquet files down to its size-targeted count,
    * as ONE Spark job (writer tasks ∝ total bytes, never one per dir),
    * then swap each rewritten dir in with a per-dir two-rename commit.
    * Returns the number of partition dirs rewritten.
    *
    * This is the [[compact]] analog for partitioned layouts — an
    * operator runs it on a maintenance schedule (`--maintenance
    * compact_partitions`), not on the ingest path; inline ingest
    * growth is bounded separately by each index's append sizing
    * (~one file per touched partition per batch).
    *
    * Crash contract mirrors [[compact]]'s: tmp (`.__pcompact_tmp`) and
    * old (`.__pcompact_old`) live OUTSIDE the table root, so readers
    * never see half-written partitions; a crash between a dir's two
    * renames leaves that dir stranded in old, and the next call heals
    * it on entry (restore if missing from the root, drop if the swap
    * completed) before deleting pre-commit tmp garbage — the healed
    * table always holds each partition's full row set exactly once.
    */
  def compactPartitioned(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minFilesPerDir: Int = 2
  ): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new HPath(s"$path.__pcompact_tmp")
    val oldRoot = new HPath(s"$path.__pcompact_old")
    // Fenced like compact (r16): the merge reads victim dirs, swaps the
    // rewrites in, then DELETES the victims — racing a concurrent
    // append, a file landed in a victim dir after the read is deleted
    // with it (silently lost rows); racing a second compaction, the
    // two interleave per-dir renames. Adhoc token: single-shot
    // maintenance, crash runbook = lease_break + re-run (entry healing
    // below makes the re-run idempotent).
    withWriterLease(fs, path, adhocToken("pcompact"), "compactPartitioned") {
    // Heal a prior crash BEFORE reading: restore dirs stranded mid-swap
    // (missing from the root), drop the rest, then clear tmp garbage
    // (every tmp dir is either unswapped — its data still lives in the
    // root — or already swapped in; both are safe to delete).
    recoverPartitionedCompact(fs, root, tmpRoot, oldRoot)
    if (!fs.exists(root)) return 0
    val victims = fs
      .listStatus(root)
      .filter(st =>
        st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.startsWith(".")
      )
      .map { st =>
        val n = fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet"))
        (st.getPath, n, fs.getContentSummary(st.getPath).getLength)
      }
      .filter(_._2 > minFilesPerDir)
      .toIndexedSeq
    if (victims.isEmpty) return 0
    val partCols = victims.map(_._1.getName.split("=", 2)(0)).distinct
    require(
      partCols.length == 1,
      s"mixed partition columns under $path (${partCols.mkString(", ")}): " +
        "compactPartitioned handles one single-level hive layout per call"
    )
    val partCol = partCols.head
    val bytes = victims.map(_._3).sum
    val nTasks = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // Hash-repartition on the partition column: a task holds whole
    // dirs (one output file per dir) and a swarm of small dirs shares
    // few tasks. A single dir larger than the target stays one file —
    // per-dir sub-splitting is the owning operator's job (e.g. the IVF
    // rebalance pass splits oversized clusters before size shows up
    // here).
    spark.read
      .option("basePath", root.toString)
      .parquet(victims.map(_._1.toString): _*)
      .repartition(nTasks, col(partCol))
      .write
      .partitionBy(partCol)
      .parquet(tmpRoot.toString)
    fs.mkdirs(oldRoot)
    forEachBucketParallel(
      fs.listStatus(tmpRoot).filter(st => st.isDirectory && st.getPath.getName.contains("=")).map(_.getPath).toIndexedSeq
    ) { tmpDir =>
      val live = new HPath(root, tmpDir.getName)
      val old = new HPath(oldRoot, tmpDir.getName)
      if (fs.exists(live)) renameOrFail(fs, live, old)
      renameOrFail(fs, tmpDir, live)
    }
    deleteOrFail(fs, oldRoot)
    deleteOrFail(fs, tmpRoot)
    victims.length
    } // withWriterLease
  }

  /** [[compactPartitioned]]'s entry healing, shared with reader-side
    * gates: restore partition dirs stranded mid-swap (present in the
    * old root, missing from the live one), drop the rest of the old
    * root, clear tmp garbage. Without it a crashed partitioned
    * compaction leaves swapped-out dirs MISSING from the root — a
    * reader then silently sees fewer partitions (missing rows), the
    * worst failure mode of the family.
    */
  private[operators] def recoverPartitionedCompact(
      fs: HFs,
      root: HPath,
      tmpRoot: HPath,
      oldRoot: HPath
  ): Unit = {
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).filter(_.isDirectory).foreach { st =>
        val dst = new HPath(root, st.getPath.getName)
        if (!fs.exists(dst)) renameOrFail(fs, st.getPath, dst)
      }
      deleteOrFail(fs, oldRoot)
    }
    deleteOrFail(fs, tmpRoot)
  }

  /** Reader-side entry healing for a dataset maintained by [[compact]]
    * (whole-dir `.__compact_*` swap) and/or [[compactPartitioned]]
    * (per-dir `.__pcompact_*` swaps) — the TextIndex serving gate:
    * with no lease on the path, heal both strand shapes (a crashed
    * whole-dir compact leaves the TARGET renamed away — every read
    * fails; a crashed partitioned one leaves dirs missing — reads
    * silently lose rows); under a live lease with leftovers, refuse
    * (the writer is mid-swap); nothing stranded, read normally.
    */
  private[graft] def healCompactForRead(
      spark: SparkSession,
      path: String,
      family: String
  ): Unit = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cOld = new HPath(s"$path.__compact_old")
    val pTmp = new HPath(s"$path.__pcompact_tmp")
    val pOld = new HPath(s"$path.__pcompact_old")
    readTextFile(fs, new HPath(s"$path.__writer")) match {
      case None =>
        recoverSwap(fs, root, cOld)
        recoverPartitionedCompact(fs, root, pTmp, pOld)
      case Some(b) =>
        if (fs.exists(cOld) || fs.exists(pOld))
          throw refuseHealUnderLease(path, family, leaseTokenOf(b))
    }
  }

  /** Incremental duplicated-span extents — the persistent-state twin of
    * the batch q101 operator, so a new crawl batch gets its span-level
    * dedup cuts WITHOUT a corpus-wide recompute. State is one row per
    * distinct corpus span hash with min/max doc attribution
    * (`h, mn_doc, mx_doc` — the q87 span-stat shape); a batch position
    * is duplicated iff some OTHER doc holds its hash: a state row whose
    * attribution isn't solely this doc, or ≥ 2 distinct batch docs
    * sharing it. For doc-disjoint batches this is EXACTLY the
    * full-recompute rule over prior ∪ batch restricted to the batch
    * (PropertySpec proves it on random corpora). The disjointness is a
    * CONTRACT, not a convenience: re-using a doc_id with CHANGED text
    * makes the self-attribution exclusion treat the doc's prior
    * contribution as "its own", silently suppressing cross-VERSION
    * duplicate spans (an unchanged re-crawl is fine — that exclusion
    * is exactly what makes it not self-dup). Ingest loops that may
    * rewrite a document must assign fresh ids (e.g. key by
    * (url, crawl_ts)); the CLI verbs state the same constraint.
    * `checkDocIdReuse = true` turns the contract into an enforced
    * AUDIT GATE: if any batch doc_id already appears in the state's
    * attribution (and the batch is not a marker-identified replay of
    * itself), the call fails listing offenders before anything is
    * probed or folded. The check costs a two-column scan of the FULL
    * state (a reused doc's prior shingles can live in any bucket, so
    * it cannot partition-prune) — an audit-schedule cost, not a
    * hot-path one — and it cannot tell a changed re-crawl from an
    * intentionally re-sent unchanged doc: callers doing the latter
    * should leave it off. Returns the batch
    * docs' extents (`doc_id, start_pos, end_pos, n_tokens`, ≥ minTokens).
    *
    * Exactly-once and replay: the extents settle (localCheckpoint)
    * before the state fold mutates anything, and the fold is
    * [[refreshAggregate]]'s marker + atomic two-rename swap (a retry of
    * an applied batch skips the rewrite). Because the probe excludes
    * self-attributed hashes, a REPLAYED batch probing the post-fold
    * state recomputes extents IDENTICAL to its first run — so a caller
    * writing them as a batch-keyed overwrite converges under any
    * crash/retry (the streaming ingest family's rule), with no
    * "already applied" special case. Same mechanism makes a re-crawled
    * unchanged doc in a LATER batch not duplicate against itself.
    *
    * 100 TB: per-batch work is batch shingles (window over the batch's
    * own hashes) + one keyed probe join into the state (batch side
    * small → AQE broadcasts it, and the state scan PARTITION-PRUNES to
    * the batch's hash-prefix buckets). The fold is the SEGMENTED
    * hash-prefix-partitioned protocol ([[foldStatePartitionedByHash]]):
    * the batch's partial rows are APPENDED as one new segment per
    * touched partition — existing state is never read or rewritten on
    * the hot path, so per-batch write cost is O(batch partial) however
    * large the state grows; size-tiered compaction (`maxStateSegments`)
    * bounds segment fan-out at O(log state) write amplification. This
    * is what keeps continuous span ingest O(corpus) instead of
    * O(corpus²) over a crawl. A legacy unpartitioned state is migrated
    * by one full partitioned rewrite on its next fold, and a
    * pre-segment partitioned state by in-place metadata renames at
    * entry; `stateBuckets` applies to NEW state only (the count is
    * pinned in the state's `_buckets` file thereafter — re-shard a
    * mis-sized state with [[compactSpanState]]'s `newBuckets`).
    */
  def incrementalDupSpans(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      statePath: String,
      appliedId: Option[Long] = None,
      minTokens: Int = 5,
      stateBuckets: Int = 64,
      maxStateSegments: Int = 8,
      checkDocIdReuse: Boolean = false
  ): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // And on the batch's own session: inside foreachBatch the batch
    // DataFrame belongs to a per-stream CLONE whose function-registry
    // snapshot may predate this call on the outer session — analysis
    // of the shingle expression runs against the clone.
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val fsPath = new HPath(statePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Single-writer fence around the WHOLE ingest (heal + probe +
    // fold): the staging dirs (`.__append_tmp`) are shared per state,
    // entry healing renames dirs a live writer may be mid-swap on, and
    // a concurrent compaction could delete segments out from under the
    // probe — one lease serializes all of it (see withWriterLease).
    // The returned extents are pinned (localCheckpoint) inside, so the
    // lease releasing before the caller consumes them is safe.
    withWriterLease(fs, statePath, leaseToken(appliedId), "incrementalDupSpans") {
    // Heal any crash-stranded state BEFORE any read: the pre-partition
    // protocol's whole-dir strand (`.__refresh_old`, kept for states
    // created before the partitioned fold) and the partitioned
    // protocol's tmp/old dirs.
    recoverSwap(fs, fsPath, new HPath(s"$statePath.__refresh_old"))
    recoverPartitionedFold(
      fs,
      fsPath,
      new HPath(s"$statePath.__pfold_tmp"),
      new HPath(s"$statePath.__pfold_old")
    )
    // BEFORE the probe: a crash mid-migration leaves an hp dir holding
    // both bare files and seg= subdirs, which no reader can open — the
    // idempotent re-run must finish the renames first. Also sweep
    // staging stranded by a crashed append (pre-commit garbage).
    ensureSegmented(fs, fsPath)
    dropStaleStaging(fs, fsPath)
    deleteOrFail(fs, new HPath(s"$statePath.__append_tmp"))
    deleteOrFail(fs, new HPath(s"$statePath.__compact_seg_tmp"))
    // ONE shingle pass and one h-window serve probe + within-batch +
    // fold: the per-hash doc extremes ride every positional row out of
    // the window (constant within an h group), so the within-batch dup
    // test becomes a FILTER on the pin — no h-exchange or window
    // re-run inside the extents chain — and the fold's per-h partial
    // is a dropDuplicates over the pinned extremes. The pin loses its
    // partitioning METADATA (LogicalRDD), so the dedupe still plans
    // one ENSURE_REQUIREMENTS exchange, but the pin is physically
    // h-clustered (the window's own exchange), so the map-side partial
    // agg collapses every h to ONE slim row before it — the exchange
    // carries one row per distinct hash, not the positional table.
    // (The previous shape shuffled the FULL shingle table by h twice —
    // once for a withinDup window, once for a separate groupBy(h)
    // partial — measured: q105 5.5 -> 4.3 s at sf0.1; at 100 TB a
    // whole second batch-sized exchange.)
    val pos = labeledJobs(spark, "dup_spans: shingle pass (pos pin)") {
      batch
        .select(
          col(idCol).as("doc_id"),
          posexplode(
            graft.functions.GraftFunctions.graft_shingles_pos(split(col(textCol), "\\s+"))
          ).as(Seq("pos", "h"))
        )
        .withColumn(
          "__mn",
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
        .withColumn(
          "__mx",
          max(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
        .localCheckpoint()
    }
    val stateExists = fs.exists(fsPath)
    // A replay is identified by the root marker OR by the batch's own
    // seg=b<id> dirs surviving a crash that lost the marker (append
    // done, advanceRootMarker not) — without the second check, the
    // audit gate would see the batch's own attribution in the state
    // and permanently wedge the documented idempotent re-append. The
    // bucket listing only runs on the (audit-schedule) gated path.
    // KNOWN LIMIT: re-running a HISTORICAL applied_id after later
    // batches can false-positive once compaction has merged its
    // segments away (the evidence is gone, and attribution can't
    // distinguish "this batch's own prior rows" from reuse) — the
    // re-append itself stays safe and idempotent; run backfill
    // re-runs with the gate off.
    def isReplay = appliedId.isDefined && (
      readAppliedId(fs, fsPath) == appliedId ||
        listHpDirs(fs, fsPath)
          .exists(hp => fs.exists(new HPath(hp, s"seg=b${appliedId.get}")))
    )
    if (checkDocIdReuse && stateExists && !isReplay) {
      // Audit gate: any batch doc_id already holding attribution in the
      // state means a prior contribution this batch would silently
      // self-exclude against. Two-column state scan + one join against
      // the (distinct, typically broadcast-small) batch id set.
      // The gate compares through long casts, and a cast from a
      // non-integral id type yields nulls — the semi-join would match
      // nothing and the audit would SILENTLY PASS, the opposite of its
      // purpose. Fail fast on uncastable id types instead.
      val integral: Set[org.apache.spark.sql.types.DataType] = Set(
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType
      )
      val stateDf = spark.read.parquet(statePath)
      Seq(idCol -> batch.schema(idCol).dataType, "mn_doc" -> stateDf.schema("mn_doc").dataType)
        .foreach { case (c, t) =>
          require(
            integral(t),
            s"checkDocIdReuse requires integral doc ids; column '$c' is ${t.catalogString} — " +
              "map ids to longs (e.g. hash (url, crawl_ts) to a key) before running the audit gate"
          )
        }
      val batchIds = batch.select(col(idCol).cast("long").as("doc_id")).distinct()
      // Cast the STATE side too: a corpus ingested with int-typed ids
      // builds int-typed attribution, and the collect below reads long.
      val reused = stateDf
        .select(
          explode(array(col("mn_doc").cast("long"), col("mx_doc").cast("long"))).as("doc_id")
        )
        .distinct()
        .join(batchIds, Seq("doc_id"), "left_semi")
        .limit(20)
        .collect()
        .map(_.getLong(0))
        .sorted
      require(
        reused.isEmpty,
        s"checkDocIdReuse: batch re-uses ${reused.length}${if (reused.length == 20) "+" else ""} " +
          s"doc_id(s) already attributed in the span state (${reused.mkString(", ")}) — " +
          "a changed-text re-ingest under an old id silently loses its cross-version " +
          "duplicate spans; assign fresh ids (e.g. key by (url, crawl_ts))"
      )
    }
    val partitioned = stateExists && fs.exists(new HPath(fsPath, "_buckets"))
    val nb = stateBucketsOf(fs, fsPath, stateBuckets)
    // The batch's hash-prefix bucket set: tiny (≤ buckets), computed
    // once off the checkpointed shingle table, and shared by the probe
    // prune and the fold's dirty-partition selection.
    val batchHps: Option[Seq[Int]] =
      if (partitioned)
        Some(
          labeledJobs(spark, "dup_spans: batch bucket set") {
            pos
              .select(pmod(col("h"), lit(nb.toLong)).cast("int").as("hp"))
              .distinct()
              .collect()
              .map(_.getInt(0))
              .toSeq
          }
        )
      else None
    val withinDup = pos
      .filter(col("__mn") =!= col("__mx"))
      .select(col("doc_id"), col("pos"))
    val stateDup = {
      // Partition-prune the probe to the batch's buckets — as EXPLICIT
      // leaf-dir paths, not a filter over the discovered table: partition
      // discovery lists every hp= dir (thousands at a realistic bucket
      // count) and would cost more than the probe itself for a small
      // batch.
      val st: Option[DataFrame] =
        if (!stateExists) None
        else
          batchHps match {
            case Some(hps) =>
              // Non-EMPTY dirs only: a crash between the append's
              // mkdirs and its segment rename leaves a childless hp=
              // dir, and a read over nothing but such dirs cannot
              // infer a schema. `_`/`.`-prefixed entries (the `_segs`
              // manifest, stale staging) are not data. One listing per
              // touched bucket — already the probe's own cost scale —
              // issued on the bounded pool so wall-clock doesn't go
              // linear in touched buckets at round-trip latency.
              val paths = mapBucketParallel(hps.map(hp => s"$statePath/hp=$hp")) { p =>
                val hp = new HPath(p)
                metaInc()
                val keep = fs.exists(hp) && {
                  metaInc()
                  fs.listStatus(hp).exists { st =>
                    val n = st.getPath.getName
                    !n.startsWith("_") && !n.startsWith(".")
                  }
                }
                p -> keep
              }.collect { case (p, true) => p }
              if (paths.isEmpty) None
              else
                // basePath so discovery accepts hp= leaf dirs whose
                // children are seg= partition dirs; only the listed
                // leaf dirs are read (the prune stays physical).
                Some(spark.read.option("basePath", statePath).parquet(paths: _*))
            case None => Some(spark.read.parquet(statePath))
          }
      st match {
        case Some(state) =>
          pos
            .join(state, Seq("h"))
            // Some OTHER doc holds the hash — a row attributed solely to
            // this doc (its own prior/replayed contribution) is not a dup.
            .filter(col("mn_doc") =!= col("doc_id") || col("mx_doc") =!= col("doc_id"))
            .select(col("doc_id"), col("pos"))
        case None => withinDup.limit(0)
      }
    }
    // A position can be dup BOTH ways — distinct before the island merge.
    val dup = withinDup.unionByName(stateDup).distinct()
    // The extents pin and the fold's STAGING write are independent —
    // both read only the pos pin and the PRE-batch state (staging
    // lands in a tmp dir no probe ever reads) — so they run
    // concurrently (guide §2.6); the fold's VISIBLE mutation (the
    // per-bucket move-in / root swap) waits for the extents pin via
    // `beforeCommit`, which keeps the settle-before-effect rule
    // structural. A crash in the overlapped window leaves only
    // pre-commit tmp garbage (swept on entry, as before); a crash
    // AFTER the commit replays to identical extents — the probe
    // excludes self-attributed hashes, the documented replay contract.
    val (extents, _) = Overlap.both {
      labeledJobs(spark, "dup_spans: extents (probe + islands, overlapped)") {
        Dedup
          .extentsFromDupPositions(dup)
          .filter(col("n_tokens") >= minTokens)
          .localCheckpoint() // settled BEFORE the fold's commit (beforeCommit)
      }
    } { extentsSettled =>
      // per-h partial straight off the pinned window extremes — the
      // map-side partial agg collapses each (physically h-clustered) pin
      // partition to one row per h before the exchange (see the pin
      // comment above)
      val partial = pos
        .select(col("h"), col("__mn").as("mn_doc"), col("__mx").as("mx_doc"))
        .dropDuplicates("h")
      labeledJobs(spark, "dup_spans: state fold") {
        foldStatePartitionedByHash(
          spark,
          statePath,
          appliedId,
          partial,
          stateBuckets,
          batchHps,
          maxStateSegments,
          // wait, don't rethrow: if the extents computation failed, the
          // commit still converges (replay recomputes identical extents
          // against the post-fold state) and the real failure surfaces
          // when the overlap ends.
          beforeCommit = () => extentsSettled.await()
        ) { (old, p) =>
          old
            .unionByName(p)
            .groupBy(col("h"))
            .agg(min(col("mn_doc")).as("mn_doc"), max(col("mx_doc")).as("mx_doc"))
        }
      }
    }
    extents
    } // withWriterLease
  }

  /** Keyed snapshot upsert (MERGE-into-parquet): rows of `updates`
    * replace same-key rows of `snapshot`; everything else survives.
    * One hash-keyed left-anti join + a union — the updates side is
    * typically a day's batch (broadcast-eligible), and when both sides
    * are bucketed by the key ([[Scale.writeBucketed]]) the anti join is
    * shuffle-free. Idempotent by construction: re-applying the same
    * batch is a no-op (MaintenanceSpec proves it).
    *
    * Contract (SQL MERGE's cardinality rule): `updates` must hold at
    * most one row per key — a replayed CDC batch with duplicate keys
    * should be reduced to keep-latest upstream, else both rows land in
    * the snapshot.
    */
  def upsert(snapshot: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(
      snapshot.join(updates.select(keys.map(col): _*), keys, "left_anti")
    )

  /** Snapshot diff: classify every key as `added`, `removed`, or
    * `changed` between two dataset versions (the audit step before
    * promoting a new corpus snapshot). One full-outer keyed join;
    * non-key columns are compared via a row fingerprint (md5 of the
    * canonical JSON struct) so the join carries two short columns, not
    * both full rows. Unchanged keys are dropped — output is bounded by
    * the churn, not the corpus.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    def fp(df: DataFrame): DataFrame = {
      val nonKey = df.columns.filterNot(keys.contains).sorted.toIndexedSeq.map(col)
      df.select(keys.map(col) :+ md5(to_json(struct(nonKey: _*))).as("__fp"): _*)
    }
    val o = fp(oldDf).withColumnRenamed("__fp", "__fp_old")
    val n = fp(newDf).withColumnRenamed("__fp", "__fp_new")
    o.join(n, keys, "full_outer")
      .withColumn(
        "change",
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed")
      )
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Incremental aggregate maintenance (materialized-rollup refresh):
    * fold one batch's partial SUM/COUNT aggregates into a persistent
    * per-key state table — the batch twin of a streaming stateful agg,
    * and the only way a 100 TB rollup stays cheap: each refresh costs
    * the BATCH size plus the (key-bounded) state size, never a rescan
    * of history. Works for any algebraic aggregate decomposable into
    * sums (count, sum, mean = sum/count, …). State is swapped in via
    * the temp-dir + rename pattern (see [[compact]]), so a crashed
    * refresh never leaves half-written state, and re-running a FAILED
    * refresh is safe — including a crash BETWEEN the swap's two
    * renames: entry-time recovery restores the state stranded in the
    * `.__refresh_old` dir before anything is read or merged.
    *
    * Exactly-once across RETRIES: pass `appliedId` (e.g. the streaming
    * `foreachBatch` batchId). The id marker is written INTO the tmp
    * state before the rename, so state and marker swap atomically —
    * a retry after a successful swap sees its own id and becomes a
    * no-op, a retry after a crash mid-write re-runs cleanly. Without
    * an id, re-applying the same batch double-ingests it.
    *
    * Returns the refreshed state (key columns, summed columns, `n`).
    */
  def refreshAggregate(
      spark: SparkSession,
      batch: DataFrame,
      keys: Seq[String],
      sumCols: Seq[String],
      statePath: String,
      appliedId: Option[Long] = None
  ): DataFrame = {
    val aggs = sumCols.map(c => sum(col(c)).as(c)) :+ count(lit(1)).as("n")
    val partial = batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val foldAggs = (sumCols :+ "n").map(c => sum(col(c)).as(c))
    foldState(spark, statePath, appliedId, partial) { (old, p) =>
      old
        .unionByName(p)
        .groupBy(keys.map(col): _*)
        .agg(foldAggs.head, foldAggs.tail: _*)
    }
  }

  /** Incremental DISTINCT-cardinality maintenance: fold one batch's
    * per-key HLL sketches (Spark's datasketches-backed
    * `hll_sketch_agg`) into a persistent state table — the sketch twin
    * of [[refreshAggregate]], for the one aggregate sums can't carry.
    * Exact incremental distinct-count state would have to persist the
    * full value SET per key (unbounded, and at 10^10+ tokens per
    * language it dwarfs the telemetry it feeds); HLL register state is
    * a few KB per key, union is register-wise max (associative,
    * commutative, idempotent — replay-safe by algebra on top of the
    * applied-id marker), and the estimate stays within ~1.6 % rsd at
    * lgK=12. Crash-safety and exactly-once semantics are EXACTLY
    * [[refreshAggregate]]'s: same entry-time recovery, marker, and
    * atomic two-rename swap, via the shared fold.
    *
    * State schema: keys…, `sk` (serialized sketch), `n` (row count).
    * Read estimates back with [[cardinalityEstimates]].
    */
  def refreshCardinality(
      spark: SparkSession,
      batch: DataFrame,
      keys: Seq[String],
      distinctCol: String,
      statePath: String,
      appliedId: Option[Long] = None,
      lgConfigK: Int = 12
  ): DataFrame = {
    require(
      !keys.exists(Set("sk", "n")),
      "refreshCardinality reserves the state column names 'sk' and 'n'"
    )
    // call_function, not expr(s"..."): column names with spaces/dashes
    // must not go through the SQL parser.
    val partial = batch
      .groupBy(keys.map(col): _*)
      .agg(
        call_function("hll_sketch_agg", col(distinctCol), lit(lgConfigK)).as("sk"),
        count(lit(1)).as("n")
      )
    foldState(spark, statePath, appliedId, partial) { (old, p) =>
      old
        .unionByName(p)
        .groupBy(keys.map(col): _*)
        .agg(
          call_function("hll_union_agg", col("sk"), lit(true)).as("sk"),
          sum(col("n")).as("n")
        )
    }
  }

  /** Per-key distinct-count estimates from a [[refreshCardinality]]
    * state table: keys…, `estimate` (long), `n` (exact row count).
    */
  def cardinalityEstimates(spark: SparkSession, statePath: String): DataFrame = {
    val state = spark.read.parquet(statePath)
    val keys = state.columns.filterNot(Set("sk", "n"))
    state.select(
      keys.map(col) :+
        call_function("hll_sketch_estimate", col("sk")).as("estimate") :+ col("n"): _*
    )
  }

  /** The `_applied_id` exactly-once marker of a state dir, if present.
    * (Parquet readers ignore `_`-prefixed files, so the marker rides
    * inside the state dir and swaps atomically with it.)
    */
  private def readAppliedId(fs: HFs, dir: HPath): Option[Long] = {
    val m = new HPath(dir, "_applied_id")
    if (fs.exists(m)) {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    } else None
  }

  /** Shared exactly-once state fold: entry-time crash recovery, the
    * applied-id no-op check, `fold(old, partial)` when state exists,
    * and the atomic marker+swap. See [[refreshAggregate]] for the full
    * semantics contract. `private[operators]` so sibling operator
    * families (e.g. `Preference.pairIngest`) fold their own
    * algebraically-mergeable state through the one audited protocol
    * instead of reimplementing the marker/swap dance.
    */
  private[operators] def foldState(
      spark: SparkSession,
      statePath: String,
      appliedId: Option[Long],
      partial: DataFrame
  )(fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val fsPath = new org.apache.hadoop.fs.Path(statePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$statePath.__refresh_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$statePath.__refresh_old")
    // Single-writer fence FIRST (see withWriterLease): two concurrent
    // whole-swap folds both read the old state and the last swap
    // silently discards the first batch's rows — the worst race in
    // the repo, refused loudly instead.
    withWriterLease(fs, statePath, leaseToken(appliedId), "foldState") {
      // Restore state stranded by a crash between the swap's two renames
      // BEFORE the marker/existence checks — otherwise a retry would see
      // no state, skip the marker, and rebuild from this batch alone,
      // silently discarding the accumulated rollup.
      recoverSwap(fs, fsPath, old)
      def markerOf(dir: org.apache.hadoop.fs.Path) =
        new org.apache.hadoop.fs.Path(dir, "_applied_id")
      if (appliedId.isDefined && fs.exists(fsPath) && readAppliedId(fs, fsPath) == appliedId)
        return spark.read.parquet(statePath) // retry of an applied batch: no-op
      val merged =
        if (fs.exists(fsPath)) fold(spark.read.parquet(statePath), partial)
        else partial
      merged.write.mode("overwrite").parquet(tmp.toString)
      appliedId.foreach { id =>
        val out = fs.create(markerOf(tmp), true)
        try out.write(id.toString.getBytes("UTF-8"))
        finally out.close()
      }
      swapInto(fs, tmp, fsPath, old)
      spark.read.parquet(statePath)
    }
  }

  // ──────────── segmented hash-prefix-partitioned state fold ────────────
  //
  // The span-hash state is O(corpus shingle instances) — by far the
  // largest state in the repo — so refreshAggregate's full-state
  // rewrite makes continuous span ingest O(corpus²) over a crawl. The
  // state is hive-partitioned by a hash prefix (`hp = pmod(h,
  // buckets)`) and, within each partition, SEGMENTED (`seg=` subdirs):
  // a batch fold APPENDS its partial rows as one new segment per
  // touched partition and never rewrites existing data — per-batch
  // write cost is O(|batch partial|), independent of state size. The
  // measured reason the dirty-partition REWRITE protocol wasn't
  // enough: shingle hashes are uniform, so any realistic batch dirties
  // every bucket and "rewrite only dirty partitions" degenerates to a
  // full-state rewrite (SCALE.md's SpanStress run: a 2,000-doc batch
  // touched 64 of 64 buckets).
  //
  // What makes append-only sound is the fold's ALGEBRA: min/mn, max/mx
  // per h is associative, commutative, and IDEMPOTENT, so the state's
  // semantic content is the fold over ALL segment rows (merge-on-read)
  // and duplicate or superseded rows are harmless. Consequences:
  //   - The probe needs no pre-aggregation: a position is duplicated
  //     iff ANY state row attributes its hash beyond the probing doc —
  //     the row-level predicate plus the downstream distinct() is
  //     exact over multi-segment rows.
  //   - A replayed batch replaces its own `seg=b<id>` dirs with
  //     identical content (the append writes to a fresh tmp and moves
  //     each segment in with a delete+rename pair), so retries
  //     converge from ANY crash point; the root `_applied_id` marker
  //     (advanced only after the append) short-circuits retries of
  //     applied batches.
  //   - Compaction is crash-safe with NO protocol: write the merged
  //     segment first, then delete the inputs — any interleaving of
  //     crashes leaves duplicate rows whose fold is unchanged, and the
  //     next compaction sweeps the leftovers.
  //
  // Segment growth is bounded by size-tiered compaction (the LSM
  // rule): when a touched partition holds more than `maxSegments`
  // segments, merge every segment except those larger than the sum of
  // all smaller ones ("settled" base segments). A byte is therefore
  // rewritten only when the accumulated smaller segments rival it —
  // O(log(state/batch)) write amplification — and the settled-segment
  // count is itself O(log state), which bounds the probe's per-hash
  // row fan-out.
  //
  // The `.__pfold_tmp`/`.__pfold_old` two-phase protocol survives for
  // the two whole-layout transitions only — first write and legacy
  // unpartitioned migration — and [[recoverPartitionedFold]] still
  // heals crashes of the pre-segment dirty-rewrite protocol (states
  // written before segmentation). A pre-segment partitioned state
  // (bare parquet files in its hp= dirs) is migrated in place by
  // metadata renames into `seg=base0` on entry, guarded by the
  // `_segmented` marker — readers never see a mixed directory because
  // the migration completes before any probe.
  //
  // The state dir also carries `_buckets` (bucket count pinned at
  // creation — later calls ignore their parameter; re-shard with
  // [[compactSpanState]]'s `newBuckets`) so the partition function can
  // never drift, and the root `_applied_id` marker works exactly as in
  // [[foldState]]. Each partition additionally carries a `_segs` size
  // manifest (see its comment block) so tiering never fans out
  // per-segment metadata calls on the ingest path.

  private def listHpDirs(fs: HFs, dir: HPath): Seq[HPath] =
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("hp="))
        .map(_.getPath)
        .toSeq

  /** Run `body`, then release every RDD pin created on this session
    * during it — the scratch-pin ownership boundary for single-flight
    * chains. Operators pin intermediates with `localCheckpoint`
    * (settled batches, walked memberships, span extents); the pins are
    * DEAD once the enclosing stage's output is durable, but
    * localCheckpoint blocks are NOT evictable, so left in place across
    * a multi-stage verb or a multi-batch ingest loop they accumulate
    * and squeeze execution memory for everything after (measured:
    * 58-134 s vs ~7 s on the dpo_release decontam at the 200k-triple
    * soak). Pins that existed BEFORE the body (a caller's memo, an
    * outer scope's pins) always survive.
    *
    * CONTRACT: the session must not be running OTHER pin-creating
    * graft jobs concurrently with `body` — a concurrent pinner's
    * blocks created inside the window would be released with ours,
    * and a released localCheckpoint cannot be recomputed. Every
    * caller here is a single-flight boundary by construction (a CLI
    * verb stage, a foreachBatch body); do not wrap code that races
    * other queries on the same session.
    *
    * The contract is ENFORCED, not just documented: a second THREAD
    * entering on the same SparkContext while one is inside fails
    * loudly (the realistic misuse — two streams' foreachBatch bodies
    * on one session draining concurrently, each releasing the other's
    * live pins). Same-thread nesting stays legal (an outer verb
    * wrapping inner operators): the inner boundary releases its own
    * pins, the outer the rest.
    */
  private val scratchPinHolder =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, Thread]()

  private[graft] def releasingScratchPins[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val me = Thread.currentThread()
    val prev = scratchPinHolder.putIfAbsent(sc, me)
    val nested = prev != null && (prev eq me)
    if (prev != null && !nested)
      throw new IllegalStateException(
        s"releasingScratchPins: thread '${prev.getName}' is already inside a scratch-pin " +
          s"boundary on this SparkContext (this thread: '${me.getName}') — concurrent " +
          "boundaries on one session would release each other's live localCheckpoint " +
          "blocks, which are unrecoverable; serialize the verbs/streams on this session")
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      if (!nested) scratchPinHolder.remove(sc, me)
      sc.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values
        .foreach(_.unpersist(blocking = false))
    }
  }

  /** Single-writer fence for durable state roots — the TreeState
    * `.__writer` lease generalized to every state family here: two
    * concurrent writers on one root interleave their swap renames,
    * segment appends, and markers (the whole-swap [[foldState]] is
    * worst — both read the old state, fold their own batch, and the
    * LAST swap silently discards the first batch's rows). A writer
    * takes the lease — a sibling `<state>.__writer` created with
    * overwrite=false, holding its token — before any read or
    * mutation, and releases it on exit (success OR failure; only a
    * JVM death leaves it). A second writer with a DIFFERENT token
    * refuses loudly; a crashed writer's retry carries the same token
    * (the applied id) and re-enters. Two truly concurrent attempts
    * with the SAME token are outside the contract (foreachBatch
    * retries are serial by construction; adhoc single-shot callers
    * are single-flight by definition).
    */
  private[operators] def withWriterLease[T](
      fs: HFs,
      statePath: String,
      token: String,
      family: String
  )(body: => T): T = {
    claimOrReenterLease(fs, statePath, token, family)
    try body
    finally deleteOrFail(fs, new HPath(s"$statePath.__writer"))
  }

  /** Lease file body (round 16): the token on line 1 — the ONLY line
    * the fence compares — followed by holder host/pid/created-at audit
    * metadata, the fields `lease_report` prints and `lease_break` ages
    * against (a crashed holder's lease used to demand a hand-deleted
    * file; the verbs make the runbook mechanical). r15-format leases
    * (bare token, no metadata) stay readable: token parsing takes
    * line 1, missing fields report as unknown.
    */
  private[graft] def leaseBody(token: String): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown" }
    s"$token\nhost=$host\npid=${ProcessHandle.current().pid()}\ncreated_at=${System.currentTimeMillis()}\n"
  }

  private[graft] def leaseTokenOf(body: String): String =
    body.linesIterator.nextOption().map(_.trim).getOrElse("")

  private[graft] def leaseFields(body: String): Map[String, String] =
    body.linesIterator
      .drop(1)
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _           => None
      })
      .toMap

  /** Take (or re-enter) the single-writer lease on `statePath`.
    *
    * The claim is write-temp-then-RENAME (round 16; previously
    * create(overwrite=false) + a second write): the lease file appears
    * ATOMICALLY with its full body, so no crash window can leave an
    * empty-token lease that wedges every later writer and reader with
    * an unactionable holder ''. On HDFS-semantics stores a rename onto
    * an existing destination fails, which makes the claim itself
    * atomic; the fence is documented HDFS-semantics-ONLY — on stores
    * whose rename overwrites (raw local fs) or is copy+delete (S3A
    * without conditional writes) two racers can briefly both rename,
    * so the claim is followed by a VERIFY read that refuses when a
    * foreign token won. Should an empty/unparseable lease appear
    * anyway (a pre-r16 crash, a truncated copy), it is stale BY
    * PROTOCOL — no live r16 writer can own it — and is removed with a
    * note rather than wedging the pipeline.
    */
  private[graft] def claimOrReenterLease(
      fs: HFs,
      statePath: String,
      token: String,
      family: String
  ): Unit = {
    val p = new HPath(s"$statePath.__writer")
    readTextFile(fs, p) match {
      case Some(b) if leaseTokenOf(b) == token => () // crashed attempt's retry: re-enter
      case Some(b) if leaseTokenOf(b).isEmpty =>
        System.err.println(
          s"[$family] removing EMPTY writer lease at $p — stale by protocol (r16 leases " +
            "appear atomically with their token; an empty file is a pre-r16 crash artifact)")
        deleteOrFail(fs, p)
        claimLease(fs, p, statePath, token, family)
      case Some(b) =>
        val f = leaseFields(b)
        def fld(k: String) = f.getOrElse(k, "unknown")
        throw new IllegalArgumentException(
          s"$family: writer lease on $statePath is held by '${leaseTokenOf(b)}' " +
            s"(host=${fld("host")}, pid=${fld("pid")}, created_at=${fld("created_at")}; " +
            s"this attempt: '$token') — either a concurrent writer is live (wait for it) " +
            "or a previous one crashed mid-operation (retry it under ITS token until it " +
            "completes). Inspect with `--maintenance lease_report --state " + statePath +
            "`; if the holder is confirmed dead, `--maintenance lease_break --state " +
            statePath + "`")
      case None => claimLease(fs, p, statePath, token, family)
    }
  }

  private def claimLease(fs: HFs, p: HPath, statePath: String, token: String, family: String): Unit = {
    def lostRace(cause: Throwable): Nothing =
      throw new IllegalArgumentException(
        s"$family: lost the writer-lease race on $statePath (attempt '$token') — " +
          "a concurrent writer claimed it first; retry after it completes",
        cause)
    val tmp = new HPath(s"$statePath.__writer.claim.${java.util.UUID.randomUUID()}")
    writeTextFile(fs, tmp, leaseBody(token))
    val renamed =
      try fs.rename(tmp, p)
      catch {
        case e @ (_: java.io.IOException | _: RuntimeException) =>
          fs.delete(tmp, false); lostRace(e)
      }
    if (!renamed) { fs.delete(tmp, false); lostRace(null) }
    // verify read: detects the rename-overwrites race on non-HDFS stores
    if (!readTextFile(fs, p).map(leaseTokenOf).contains(token)) lostRace(null)
  }

  /** adhoc (id-less) lease tokens are UNIQUE PER ATTEMPT (round 16):
    * the r15 constant 'fold:adhoc' meant any two concurrent id-less
    * writers shared a token and both silently re-entered — the exact
    * last-swap-wins race the fence exists to refuse, wearing a fence.
    * The trade is deliberate: an id-less caller that CRASHES leaves a
    * lease no retry can re-enter (there is no id to carry), and the
    * runbook is `lease_break` — id-carrying callers keep crash-retry
    * re-entry, which is why every scheduled/streaming path passes an
    * applied id and adhoc is for single-shot human invocations only.
    */
  private[operators] def leaseToken(appliedId: Option[Long]): String =
    appliedId.map(id => s"fold:$id").getOrElse(adhocToken("fold"))

  /** [[withWriterLease]] for callers outside the operators package
    * fencing on a streaming batch id — deterministic token, so a
    * crashed batch's automatic replay re-enters its own stale lease.
    */
  private[graft] def withBatchWriterLease[T](
      fs: HFs,
      statePath: String,
      batchId: Long,
      family: String
  )(body: => T): T =
    withWriterLease(fs, statePath, leaseToken(Some(batchId)), family)(body)

  private[operators] def adhocToken(kind: String): String =
    s"adhoc:$kind:${java.util.UUID.randomUUID()}"

  /** READER-side lease discipline, generalized from TreeState (r16,
    * verdict item 5): healing renames state dirs, which is only safe
    * with no writer mid-swap. With no lease on the root, a reader
    * heals exactly as a writer would — a crashed whole-swap fold
    * strands the TARGET renamed to `.__*_old`, so until r16 every
    * serving read failed on "path does not exist" until the NEXT
    * write happened to run entry healing: one crash became a serving
    * outage. Under a LIVE lease, leftovers are ambiguous (a writer
    * mid-swap or a crash), so a reader that finds something to heal
    * refuses loudly instead of racing the writer's renames; with
    * nothing stranded it reads normally (each swap rename is atomic —
    * a concurrent read sees the pre- or post-swap state, both
    * complete).
    */
  private[graft] def healWholeSwapForRead(
      spark: SparkSession,
      statePath: String,
      family: String
  ): Unit = {
    val target = new HPath(statePath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new HPath(s"$statePath.__refresh_old")
    readTextFile(fs, new HPath(s"$statePath.__writer")) match {
      case None => recoverSwap(fs, target, old)
      case Some(b) =>
        if (fs.exists(old)) throw refuseHealUnderLease(statePath, family, leaseTokenOf(b))
    }
  }

  /** [[healWholeSwapForRead]] for the segmented span-hash state: the
    * readability strands are the legacy whole-dir swap
    * (`.__refresh_old`), the partitioned fold's bucket swaps
    * (`.__pfold_tmp`/`old`), and a crashed seg-layout migration
    * (mixed bare-files + `seg=` dirs no reader can open). Sibling
    * append/compaction tmp dirs and `.spark-staging` entries are NOT
    * touched here — they never block a read (dot-prefixed or outside
    * the root), and a reader deleting them could race a writer that
    * claimed the lease after our check.
    */
  private def healSpanStateForRead(spark: SparkSession, statePath: String, family: String): Unit = {
    val root = new HPath(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val refreshOld = new HPath(s"$statePath.__refresh_old")
    val pfoldTmp = new HPath(s"$statePath.__pfold_tmp")
    val pfoldOld = new HPath(s"$statePath.__pfold_old")
    readTextFile(fs, new HPath(s"$statePath.__writer")) match {
      case None =>
        recoverSwap(fs, root, refreshOld)
        recoverPartitionedFold(fs, root, pfoldTmp, pfoldOld)
        ensureSegmented(fs, root)
      case Some(b) =>
        if (fs.exists(refreshOld) || fs.exists(pfoldTmp) || fs.exists(pfoldOld))
          throw refuseHealUnderLease(statePath, family, leaseTokenOf(b))
    }
  }

  private def refuseHealUnderLease(statePath: String, family: String, holder: String) =
    new IllegalArgumentException(
      s"$family: state at $statePath has swap leftovers while writer lease '$holder' is " +
        "held — a writer is live mid-swap (wait for it) or crashed (retry it under its " +
        "token, or `--maintenance lease_break --state " + statePath + "` after confirming " +
        "it is dead); refusing to heal under a lease")

  /** Read-only lease inspection for the `lease_report` verb: (token,
    * metadata fields) of the live lease, or None. */
  def leaseReport(spark: SparkSession, statePath: String): Option[(String, Map[String, String])] = {
    val p = new HPath(s"$statePath.__writer")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readTextFile(fs, p).map(b => (leaseTokenOf(b), leaseFields(b)))
  }

  /** Break a dead holder's writer lease — the loud, audited runbook
    * verb for a JVM death (the lease is otherwise released in the
    * holder's `finally`; only a crash leaves it). REFUSES while the
    * lease is fresher than `minAgeMs`: a just-created lease is far
    * more likely a LIVE writer than a crash, and breaking a live
    * writer's lease re-opens the lost-batch race the fence closes.
    * Leases without created-at metadata (r15 format, or a truncated
    * body) are treated as old — they predate the metadata deploy.
    * Returns the broken (token, fields) for the audit line.
    */
  def leaseBreak(
      spark: SparkSession,
      statePath: String,
      minAgeMs: Long = 15 * 60 * 1000L
  ): (String, Map[String, String]) = {
    val p = new HPath(s"$statePath.__writer")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = readTextFile(fs, p).getOrElse(
      throw new IllegalArgumentException(s"lease_break: no writer lease at $p"))
    val fields = leaseFields(body)
    fields.get("created_at").flatMap(_.toLongOption).foreach { created =>
      val age = System.currentTimeMillis() - created
      if (age < minAgeMs)
        throw new IllegalArgumentException(
          s"lease_break: lease on $statePath is only ${age / 1000}s old " +
            s"(threshold ${minAgeMs / 1000}s) — a lease this fresh is far more likely a " +
            "LIVE writer than a crash; wait for it (or re-run with a lower --min_age_sec " +
            "only after confirming host/pid from lease_report is dead)")
    }
    deleteOrFail(fs, p)
    (leaseTokenOf(body), fields)
  }

  private[graft] def writeTextFile(fs: HFs, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  private[operators] def readTextFile(fs: HFs, p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      } catch {
        // The exists -> open pair races a concurrent delete: a writer
        // RELEASING its lease while another writer (or a reader's heal
        // gate) checks it made the open throw and killed the checker —
        // found by the CurateStress `lease` arm at 8 racing threads. A
        // file that vanished between the two calls IS "absent"; the
        // caller then proceeds down the no-lease path (and a claim
        // race after that is caught by the claim's own verify read).
        case _: java.io.FileNotFoundException => None
        // Local ChecksumFileSystem only (same stress arm): two racing
        // claim RENAMES interleave the data file and its .crc sidecar,
        // so a read mid-race sees one claim's bytes against the
        // other's checksum. The file is torn BY an in-flight claim —
        // report absent and let the claim path's verify read (or the
        // next settled read) arbitrate. HDFS cannot produce this
        // (rename-onto-existing fails atomically there), which is the
        // documented semantics the fence targets.
        case _: org.apache.hadoop.fs.ChecksumException => None
      }

  private[graft] def deleteOrFail(fs: HFs, p: HPath): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"cannot delete $p")

  /** Complete a committed partitioned fold — idempotent: safe to re-run
    * from any crash point after `_commit` exists in tmp.
    */
  private def rollForwardPartitioned(fs: HFs, state: HPath, tmp: HPath, old: HPath): Unit = {
    val commit = readTextFile(fs, new HPath(tmp, "_commit"))
      .getOrElse(throw new java.io.IOException(s"rollForward without $tmp/_commit"))
    val hasId = commit.contains("id") && !commit.contains("noid")
    if (commit.startsWith("full")) {
      // First write or legacy migration: atomic whole-dir swap — the
      // markers ride inside tmp, so they flip with the data.
      if (fs.exists(state)) {
        deleteOrFail(fs, old)
        renameOrFail(fs, state, old)
      }
      renameOrFail(fs, tmp, state)
      fs.delete(new HPath(state, "_commit"), false)
      deleteOrFail(fs, old)
    } else {
      fs.mkdirs(old)
      listHpDirs(fs, tmp).foreach { hpDir =>
        val st = new HPath(state, hpDir.getName)
        val ol = new HPath(old, hpDir.getName)
        if (fs.exists(st) && fs.exists(ol))
          throw new java.io.IOException(
            s"pfold invariant violated: both $st and $ol exist — refusing to guess"
          )
        if (fs.exists(st)) renameOrFail(fs, st, ol)
        renameOrFail(fs, hpDir, st)
      }
      // Marker finalize, driven by the COMMIT record (not tmp contents)
      // so a re-entry after the finalize cannot un-finalize: with an id
      // the tmp marker is renamed in (skip if already done); without
      // one the stale root marker is dropped, mirroring the whole-dir
      // swap's replace semantics.
      val tmpId = new HPath(tmp, "_applied_id")
      val stId = new HPath(state, "_applied_id")
      if (hasId) {
        if (fs.exists(tmpId)) {
          fs.delete(stId, false)
          renameOrFail(fs, tmpId, stId)
        }
      } else fs.delete(stId, false)
      val tmpB = new HPath(tmp, "_buckets")
      val stB = new HPath(state, "_buckets")
      if (!fs.exists(stB) && fs.exists(tmpB)) renameOrFail(fs, tmpB, stB)
      // old before tmp: tmp/_commit is the roll-forward flag, so it
      // must be the last thing to disappear.
      deleteOrFail(fs, old)
      deleteOrFail(fs, tmp)
    }
  }

  /** Entry-time crash recovery for the partitioned fold protocol: a
    * committed tmp rolls FORWARD, an uncommitted tmp is discarded (the
    * state was never touched before the commit record), and orphaned
    * aside-partitions (a full-mode crash after its dir swap) are
    * restored where the state is missing them.
    */
  private def recoverPartitionedFold(fs: HFs, state: HPath, tmp: HPath, old: HPath): Unit =
    if (fs.exists(tmp)) {
      if (fs.exists(new HPath(tmp, "_commit"))) rollForwardPartitioned(fs, state, tmp, old)
      else {
        deleteOrFail(fs, tmp)
        restoreOldPartitions(fs, state, old)
      }
    } else {
      // A full-mode crash right after its dir swap leaves the commit
      // record inside the state and the previous state stranded aside.
      if (fs.exists(state)) fs.delete(new HPath(state, "_commit"), false)
      restoreOldPartitions(fs, state, old)
    }

  private def restoreOldPartitions(fs: HFs, state: HPath, old: HPath): Unit =
    if (fs.exists(old)) {
      listHpDirs(fs, old).foreach { d =>
        val st = new HPath(state, d.getName)
        if (!fs.exists(st)) renameOrFail(fs, d, st)
      }
      deleteOrFail(fs, old)
    }

  /** The pinned bucket count of a partitioned state dir, or `default`
    * for a state that doesn't exist yet.
    */
  private def stateBucketsOf(fs: HFs, state: HPath, default: Int): Int =
    readTextFile(fs, new HPath(state, "_buckets")).map(_.trim.toInt).getOrElse(default)

  /** Writer task count for a span-state compaction/rewrite: sized from
    * the BYTES being rewritten, never from the bucket count — one
    * bucket must not mean one writer task (at 64 buckets a 100 TB-class
    * state would hand each compaction task ~1.5 TB). Callers pair this
    * with `repartitionByRange(n, hp, h)`: ranges keep every bucket's
    * rows contiguous, so a big bucket SUB-SPLITS across tasks while the
    * partitioned writer still lands each task's slice in the right
    * `hp=` dir, h-sorted and h-disjoint per file — trickle-probe
    * row-group pruning stays as tight as the one-task-per-bucket
    * layout. Capped to keep a mis-set target from exploding the
    * shuffle's partition count.
    */
  private def spanWriteTasks(bytes: Long, targetTaskBytes: Long): Int = {
    require(targetTaskBytes > 0, "targetTaskBytes must be positive")
    math.min(1 << 15, math.max(1L, math.ceil(bytes.toDouble / targetTaskBytes).toLong)).toInt
  }

  private def listSegDirs(fs: HFs, hpDir: HPath): Seq[HPath] =
    if (!fs.exists(hpDir)) Seq.empty
    else
      fs.listStatus(hpDir)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
        .map(_.getPath)
        .toSeq

  // ───────────────────── per-partition `_segs` size manifest ─────────────────────
  //
  // Tiering decisions need every segment's byte size. Listing + a
  // recursive `getContentSummary` PER SEGMENT per dirty partition is
  // O(segments × buckets) serial driver LIST/HEAD calls per batch — on
  // an object store at a realistic bucket count, thousands of calls on
  // the ingest hot path. Instead each partition carries a `_segs` text
  // manifest (`<segName>\t<bytes>` lines, `_`-prefixed so parquet
  // readers ignore it) maintained by the jobs that change the layout:
  // the append upserts its own segment's entry (it just wrote those
  // bytes), compaction replaces its victims' entries with the merged
  // segment's. Tiering then reads ONE small file per dirty partition —
  // O(touched buckets) per batch.
  //
  // The manifest is a SIZING HINT, never a read path: probes and
  // spanStateView always read the directory itself, so a stale or lost
  // manifest can never lose data. Staleness is self-healing in both
  // directions: a missing/corrupt manifest is rebuilt from an
  // authoritative listing on next use ([[segSizesOf]]); an entry whose
  // dir a crashed replay deleted (phantom) is existence-filtered at
  // compaction time and dropped by the post-compaction rewrite; a dir
  // a crash left out of the manifest (orphan — e.g. compaction died
  // between its segment move-in and the manifest write) merely escapes
  // tiering until [[compactSpanState]]'s listing-driven full pass
  // sweeps it, and its duplicate rows are harmless under the fold's
  // idempotence.
  private def readSegManifest(fs: HFs, hpDir: HPath): Option[Map[String, Long]] =
    try
      readTextFile(fs, new HPath(hpDir, "_segs")).map {
        _.linesIterator
          .filter(_.nonEmpty)
          .map { l =>
            val Array(name, bytes) = l.split("\t", 2)
            name -> bytes.trim.toLong
          }
          .toMap
      }
    catch { case _: Exception => None } // corrupt (truncated write): rebuild

  private def writeSegManifest(fs: HFs, hpDir: HPath, sizes: Map[String, Long]): Unit = {
    metaInc()
    writeTextFile(
      fs,
      new HPath(hpDir, "_segs"),
      sizes.toSeq.sorted.map { case (n, b) => s"$n\t$b" }.mkString("\n")
    )
  }

  /** Segment byte sizes of a partition, manifest-first: one small read
    * in steady state; missing/corrupt manifests rebuild from a listing
    * + per-segment `getContentSummary` and persist the result (the
    * one-time heal for pre-manifest states and crash leftovers).
    */
  private def segSizesOf(fs: HFs, hpDir: HPath): Map[String, Long] = {
    metaInc()
    readSegManifest(fs, hpDir).getOrElse {
      val sizes = listSegDirs(fs, hpDir).map { p =>
        metaInc()
        p.getName.stripPrefix("seg=") -> fs.getContentSummary(p).getLength
      }.toMap
      metaInc()
      if (fs.exists(hpDir)) writeSegManifest(fs, hpDir, sizes)
      sizes
    }
  }

  private def metaInc(): Unit = SpanStateMeta.inc()

  /** Run independent per-bucket filesystem work on a bounded pool: the
    * per-batch driver fan-out is O(touched buckets) CALLS by design,
    * but issuing them serially makes wall-clock linear in bucket count
    * at driver-loop latency — on an object store, thousands of serial
    * round-trips. Hadoop `FileSystem` instances are thread-safe;
    * per-bucket operations touch disjoint paths, so interleaving
    * preserves the crash-protocol semantics (any prefix of buckets
    * applied, in any order, converges on replay). Exceptions propagate
    * unwrapped so callers see the original IO failure.
    */
  private def mapBucketParallel[A, B](items: Seq[A], threads: Int = 16)(f: A => B): Seq[B] =
    if (items.length <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, items.length))
      try
        items
          .map { a =>
            pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
          }
          .map { fut =>
            try fut.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          }
      finally pool.shutdown()
    }

  private def forEachBucketParallel[A](items: Seq[A], threads: Int = 16)(f: A => Unit): Unit = {
    mapBucketParallel(items, threads)(f)
    ()
  }

  /** Seed each tmp partition's `_segs` manifest (one entry: its single
    * fresh segment) so a full rewrite swaps in manifest-complete.
    * O(buckets) summary calls — a full-rewrite-schedule cost, never a
    * per-batch one.
    */
  private def writeFreshManifests(fs: HFs, tmp: HPath, segName: String): Unit =
    forEachBucketParallel(listHpDirs(fs, tmp)) { hpDir =>
      metaInc()
      val b = fs.getContentSummary(new HPath(hpDir, s"seg=$segName")).getLength
      writeSegManifest(fs, hpDir, Map(segName -> b))
    }

  /** Advance the root `_applied_id` marker via tmp+rename. A crash
    * between delete and rename loses just the marker; the re-run
    * re-applies an idempotent fold.
    */
  private def advanceRootMarker(fs: HFs, state: HPath, id: Long): Unit = {
    val mk = new HPath(state, "_applied_id")
    val mkTmp = new HPath(state, "_applied_id.__tmp")
    writeTextFile(fs, mkTmp, id.toString)
    fs.delete(mk, false)
    renameOrFail(fs, mkTmp, mk)
  }

  /** In-place migration of a pre-segment partitioned state: move each
    * hp= dir's bare parquet files into a `seg=base0` subdir (metadata
    * renames only). Idempotent — a crash mid-way leaves some dirs
    * migrated and some not, and the re-run moves the rest; the
    * `_segmented` marker is written only after every dir is clean, so
    * a crash before it just re-scans. MUST complete before any probe
    * reads the hp dirs: a directory holding both data files and
    * partition subdirs is unreadable.
    */
  private def ensureSegmented(fs: HFs, state: HPath): Unit =
    if (fs.exists(state) && fs.exists(new HPath(state, "_buckets")) &&
      !fs.exists(new HPath(state, "_segmented"))) {
      listHpDirs(fs, state).foreach { hp =>
        val bare = fs
          .listStatus(hp)
          .filter(st =>
            st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".")
          )
        if (bare.nonEmpty) {
          val base = new HPath(hp, "seg=base0")
          fs.mkdirs(base)
          bare.foreach(f => renameOrFail(fs, f.getPath, new HPath(base, f.getPath.getName)))
        }
      }
      writeTextFile(fs, new HPath(state, "_segmented"), "1")
    }

  /** Drop crash-stranded Spark staging dirs (`.spark-staging-*`) left
    * by a dead write job. Dot-prefixed, so readers already ignore
    * them; this just stops them accumulating. Single-writer contract
    * means no live job can own one at entry.
    */
  private def dropStaleStaging(fs: HFs, state: HPath): Unit =
    if (fs.exists(state))
      fs.listStatus(state)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(".spark-staging"))
        .foreach(st => fs.delete(st.getPath, true))

  /** Size-tiered compaction over the DIRTY partitions, as ONE Spark
    * job: per over-threshold partition, merge every segment except
    * those larger than the sum of all smaller ones ("settled" —
    * merging them now would be premature rewrite; the peel gives
    * O(log state/batch) write amplification). Uniform shingle hashes
    * mean a realistic batch crosses the threshold in EVERY bucket on
    * the same ingest — a per-partition job loop would schedule
    * #buckets serial jobs right on the ingest path, so all victims are
    * read, folded, and written in one pass (writer tasks ∝ merged
    * BYTES via [[spanWriteTasks]], never one per bucket), then moved
    * in segment-by-segment before the inputs are deleted. Crash-safe
    * by fold idempotence: any crash point leaves duplicate rows whose
    * per-h fold is unchanged, swept by the next compaction.
    *
    * Segment sizes come from the `_segs` manifests (`sizesByHp` when
    * the caller just maintained them, else one manifest read per dirty
    * partition) — never a per-segment `getContentSummary` fan-out on
    * the ingest path. Manifest entries are existence-filtered before
    * the read (a crashed replay can leave a phantom entry), and each
    * compacted partition's manifest is rewritten to its final content
    * BEFORE its victims are deleted, so a crash leaves orphan dirs
    * (harmless duplicate rows), never entries pointing at nothing.
    */
  private def compactDirtySegments(
      spark: SparkSession,
      fs: HFs,
      state: HPath,
      dirty: Seq[Int],
      maxSegments: Int,
      hpOf: Column,
      sizesByHp: scala.collection.Map[Int, Map[String, Long]] = Map.empty,
      targetTaskBytes: Long = SpanCompactTargetTaskBytes
  ): Unit = {
    // Per plan: (hp, manifest entries surviving the merge, victims
    // (name, bytes) that exist on disk, next c-index). Planned on the
    // bounded pool — per-bucket manifest reads are independent.
    val plans = mapBucketParallel(dirty) { hp =>
      val hpDir = new HPath(state, s"hp=$hp")
      val sizes = sizesByHp.getOrElse(hp, segSizesOf(fs, hpDir))
      if (sizes.size <= maxSegments) None
      else {
        var tail = sizes.toList.sortBy(-_._2)
        while (tail.nonEmpty && tail.head._2 > tail.tail.map(_._2).sum) tail = tail.tail
        val existing = tail.filter { case (nm, _) =>
          metaInc()
          fs.exists(new HPath(hpDir, s"seg=$nm"))
        }
        if (existing.length < 2) {
          // Nothing mergeable; if phantom entries were the reason, heal
          // the manifest so they stop re-triggering the planner.
          if (existing.length != tail.length)
            writeSegManifest(fs, hpDir, sizes -- tail.map(_._1) ++ existing)
          None
        } else {
          val nextC = sizes.keysIterator
            .collect {
              case s if s.startsWith("c") && s.drop(1).nonEmpty && s.drop(1).forall(_.isDigit) =>
                s.drop(1).toInt
            }
            .maxOption
            .getOrElse(-1) + 1
          Some((hp, sizes -- tail.map(_._1), existing, nextC))
        }
      }
    }.flatten
    if (plans.isEmpty) return
    // One segment name valid for every partition: past the max c-index
    // seen anywhere.
    val segName = s"c${plans.map(_._4).max}"
    val victims = plans.flatMap { case (hp, _, ex, _) =>
      ex.map { case (nm, _) => new HPath(new HPath(state, s"hp=$hp"), s"seg=$nm") }
    }
    val tmpC = new HPath(s"$state.__compact_seg_tmp")
    deleteOrFail(fs, tmpC)
    // Writer tasks ∝ bytes merged, not buckets dirtied: a hot bucket's
    // merge sub-splits across tasks (range partitioning keeps its files
    // h-disjoint), a swarm of small dirty buckets shares few tasks.
    val nTasks = spanWriteTasks(plans.map(_._3.map(_._2).sum).sum, targetTaskBytes)
    spark.read
      .option("basePath", state.toString)
      .parquet(victims.map(_.toString): _*)
      .select(col("h"), col("mn_doc"), col("mx_doc"))
      .groupBy(col("h"))
      .agg(min(col("mn_doc")).as("mn_doc"), max(col("mx_doc")).as("mx_doc"))
      .withColumn("hp", hpOf)
      .withColumn("seg", lit(segName))
      .repartitionByRange(nTasks, col("hp"), col("h"))
      .sortWithinPartitions(col("hp"), col("seg"), col("h"))
      .write
      .partitionBy("hp", "seg")
      .mode("overwrite")
      .parquet(tmpC.toString)
    forEachBucketParallel(listHpDirs(fs, tmpC)) { hpDir =>
      val stHp = new HPath(state, hpDir.getName)
      val segDst = new HPath(stHp, s"seg=$segName")
      metaInc()
      val mergedBytes = fs.getContentSummary(new HPath(hpDir, s"seg=$segName")).getLength
      deleteOrFail(fs, segDst)
      renameOrFail(fs, new HPath(hpDir, s"seg=$segName"), segDst)
      val hpInt = hpDir.getName.stripPrefix("hp=").toInt
      plans.find(_._1 == hpInt).foreach { case (_, survivors, _, _) =>
        writeSegManifest(fs, stHp, survivors + (segName -> mergedBytes))
      }
    }
    deleteOrFail(fs, tmpC)
    forEachBucketParallel(victims)(v => deleteOrFail(fs, v))
  }

  /** The semantic content of a span-hash state dir — one row per hash
    * with its global min/max doc attribution, folded across segments
    * (and valid on every layout generation: unpartitioned, partitioned,
    * segmented). This is the full-state reader; probes inside
    * [[incrementalDupSpans]] never need it because the row-level
    * attribution predicate is exact over raw segment rows.
    */
  def spanStateView(spark: SparkSession, statePath: String): DataFrame = {
    // reader-side entry healing, lease-gated (see healWholeSwapForRead)
    healSpanStateForRead(spark, statePath, "spanStateView")
    spark.read
      .parquet(statePath)
      .groupBy(col("h"))
      .agg(min(col("mn_doc")).as("mn_doc"), max(col("mx_doc")).as("mx_doc"))
  }

  /** Default writer-task byte budget for span-state compaction writes. */
  val SpanCompactTargetTaskBytes: Long = 512L * 1024 * 1024

  /** Full compaction of a segmented span-hash state: merge EVERY
    * partition's segments down to one (`--maintenance
    * span_state_compact`). The inline size-tiered compaction keeps
    * ingest amortized; this is the read-optimize pass an operator runs
    * before an analysis phase — probe fan-out drops to one row per
    * hash and per-partition file counts to one. ONE distributed job
    * (fold the whole state; writer tasks ∝ state BYTES via
    * [[spanWriteTasks]], never one-per-partition or one-per-bucket)
    * through the full-mode two-phase commit — never a driver loop of
    * one-job-per-partition, which at a realistic bucket count is
    * thousands of serially scheduled jobs. The root `_applied_id`
    * marker is carried through the swap, so the exactly-once contract
    * of the LAST ingest batch survives compaction. A state already at
    * one segment per partition returns without rewriting (metadata
    * listing only).
    *
    * `newBuckets` RE-SHARDS the state: `hp` is recomputed under the new
    * count and the `_buckets` pin replaced — the escape hatch for a
    * creation-time mis-sizing, which would otherwise be permanent (the
    * pin exists so the partition function can never drift between
    * writers). The rewrite rides the same two-phase commit, so a crash
    * at any point leaves either the old sharding or the new one, never
    * a mix; the state's semantic view, probe behavior, and applied-id
    * marker are invariant across the re-shard (spec-proved). Sizing
    * rule (SCALE.md): state bytes / buckets ≈ one task's partition.
    *
    * Returns (partitions rewritten, partitions total — post-reshard
    * when `newBuckets` is set).
    */
  def compactSpanState(
      spark: SparkSession,
      statePath: String,
      newBuckets: Option[Int] = None,
      targetTaskBytes: Long = SpanCompactTargetTaskBytes
  ): (Int, Int) = {
    newBuckets.foreach(b => require(b > 0, "newBuckets must be positive"))
    val fsPath = new HPath(statePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"$statePath.__pfold_tmp")
    val old = new HPath(s"$statePath.__pfold_old")
    // compaction is a writer too: it reads every segment and swaps the
    // whole root — racing a live ingest would read a half-appended
    // batch and delete its segments on the swap
    // A resharding compaction keeps a deterministic token (same target
    // bucket count => same logical operation, crash-retry re-enters);
    // a keep-buckets compaction is single-shot adhoc — r15's constant
    // 'compact:0' let two concurrent ones both "re-enter" (see
    // leaseToken's rationale).
    withWriterLease(
      fs, statePath,
      newBuckets.map(n => s"compact:$n").getOrElse(adhocToken("compact")),
      "compactSpanState") {
    recoverPartitionedFold(fs, fsPath, tmp, old)
    ensureSegmented(fs, fsPath)
    dropStaleStaging(fs, fsPath)
    require(
      fs.exists(new HPath(fsPath, "_buckets")),
      s"$statePath is not a partitioned span state (no _buckets pin)"
    )
    val hpDirs = listHpDirs(fs, fsPath)
    val multi = hpDirs.count(d => listSegDirs(fs, d).length > 1)
    val nb = stateBucketsOf(fs, fsPath, 64)
    val nbOut = newBuckets.getOrElse(nb)
    if (multi == 0 && nbOut == nb) return (0, hpDirs.length)
    val appliedId = readAppliedId(fs, fsPath)
    val nTasks = spanWriteTasks(fs.getContentSummary(fsPath).getLength, targetTaskBytes)
    spanStateView(spark, statePath)
      .withColumn("hp", pmod(col("h"), lit(nbOut.toLong)).cast("int"))
      .withColumn("seg", lit("c0"))
      .repartitionByRange(nTasks, col("hp"), col("h"))
      .sortWithinPartitions(col("hp"), col("seg"), col("h"))
      .write
      .partitionBy("hp", "seg")
      .mode("overwrite")
      .parquet(tmp.toString)
    writeFreshManifests(fs, tmp, "c0")
    writeTextFile(fs, new HPath(tmp, "_buckets"), nbOut.toString)
    writeTextFile(fs, new HPath(tmp, "_segmented"), "1")
    appliedId.foreach(id => writeTextFile(fs, new HPath(tmp, "_applied_id"), id.toString))
    writeTextFile(
      fs,
      new HPath(tmp, "_commit"),
      "full" + (if (appliedId.isDefined) " id" else " noid")
    )
    rollForwardPartitioned(fs, fsPath, tmp, old)
    val after = listHpDirs(fs, fsPath).length
    (if (nbOut != nb) after else multi, after)
    } // withWriterLease
  }

  /** Sizing snapshot of a segmented span-hash state — the observable
    * an operator reads BEFORE deciding a `--buckets` re-shard (the
    * span-state twin of `skewReport`/`clusterStats`). Byte sizes come
    * from the `_segs` manifests (one small read per bucket on the
    * bounded pool, healed from a listing where missing) — pure
    * metadata, no data scan. `recommendedBuckets` applies the SCALE.md
    * rule (state bytes / one compaction task's byte budget), floored
    * at 1; a state whose pinned count is far from it is the re-shard
    * signal.
    */
  final case class SpanStateReport(
      buckets: Int,
      totalBytes: Long,
      maxBucketBytes: Long,
      p50BucketBytes: Long,
      maxSegments: Int,
      recommendedBuckets: Int
  )

  def spanStateReport(
      spark: SparkSession,
      statePath: String,
      targetTaskBytes: Long = SpanCompactTargetTaskBytes
  ): SpanStateReport = {
    require(targetTaskBytes > 0, "targetTaskBytes must be positive")
    val fsPath = new HPath(statePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      fs.exists(new HPath(fsPath, "_buckets")),
      s"$statePath is not a partitioned span state (no _buckets pin)"
    )
    val nb = stateBucketsOf(fs, fsPath, 64)
    val perBucket = mapBucketParallel(listHpDirs(fs, fsPath)) { hpDir =>
      val sizes = segSizesOf(fs, hpDir)
      (sizes.values.sum, sizes.size)
    }
    val bytes = perBucket.map(_._1).sorted
    val total = bytes.sum
    SpanStateReport(
      buckets = nb,
      totalBytes = total,
      maxBucketBytes = bytes.lastOption.getOrElse(0L),
      p50BucketBytes = if (bytes.isEmpty) 0L else bytes(bytes.length / 2),
      maxSegments = perBucket.map(_._2).maxOption.getOrElse(0),
      recommendedBuckets = math.max(1L, math.ceil(total.toDouble / targetTaskBytes).toLong).toInt
    )
  }

  /** Exactly-once partitioned state fold over a hash-keyed state
    * (`h` + payload columns). `fold(oldDirty, partial)` sees ONLY the
    * dirty partitions' rows; the fold must be per-`h` and
    * non-contracting (every dirty partition keeps ≥ its old rows —
    * true for the span min/max fold) and IDEMPOTENT (re-applying the
    * same partial must be a no-op — min/max is; sums are not, use
    * [[foldState]] for those).
    */
  private def foldStatePartitionedByHash(
      spark: SparkSession,
      statePath: String,
      appliedId: Option[Long],
      partial: DataFrame,
      buckets: Int,
      dirtyHint: Option[Seq[Int]],
      maxSegments: Int = 8,
      // Invoked after the staging write completes and BEFORE the first
      // visible mutation (root swap / segment move-in) — the hook a
      // caller uses to overlap independent work with the staging pass
      // while keeping its settle-before-effect ordering against the
      // committed state.
      beforeCommit: () => Unit = () => ()
  )(fold: (DataFrame, DataFrame) => DataFrame): Unit = {
    val fsPath = new HPath(statePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"$statePath.__pfold_tmp")
    val old = new HPath(s"$statePath.__pfold_old")
    recoverPartitionedFold(fs, fsPath, tmp, old)
    if (appliedId.isDefined && fs.exists(fsPath) && readAppliedId(fs, fsPath) == appliedId)
      return // retry of an applied batch: no-op
    val stateExists = fs.exists(fsPath)
    val nb = stateBucketsOf(fs, fsPath, buckets)
    val hpOf = pmod(col("h"), lit(nb.toLong)).cast("int")
    val legacy = stateExists && !fs.exists(new HPath(fsPath, "_buckets"))
    val full = !stateExists || legacy
    val dirty = dirtyHint.getOrElse(
      partial.select(hpOf.as("hp")).distinct().collect().map(_.getInt(0)).toSeq
    )
    if (dirty.isEmpty) {
      // Empty partial: nothing to fold. With no state yet, write
      // nothing at all (an empty state ≡ no state for every probe, and
      // a zero-row partitioned write would leave a schema-less dir);
      // with existing state, only the marker advances.
      if (stateExists) appliedId.foreach(advanceRootMarker(fs, fsPath, _))
      return
    }
    if (full) {
      // Whole-layout transition (first write / legacy unpartitioned
      // migration): the two-phase tmp + commit + swap protocol. The
      // merged state lands as one `seg=base0` segment per partition.
      val merged = if (!stateExists) partial else fold(spark.read.parquet(statePath), partial)
      // Writer tasks ∝ bytes (floored at the cluster's parallelism for
      // the unknown-size first write), never one-per-bucket — a 100 TB
      // legacy migration must not hand each task state/buckets bytes.
      // Range partitioning on (hp, h) keeps each task's slice landing
      // in the right hp= dir with h-disjoint files (see the writer
      // note below on why files stay h-sorted).
      val nTasks = math.max(
        spark.sparkContext.defaultParallelism,
        if (stateExists) spanWriteTasks(fs.getContentSummary(fsPath).getLength, SpanCompactTargetTaskBytes)
        else 1
      )
      merged
        .withColumn("hp", hpOf)
        .withColumn("seg", lit("base0"))
        // Grouped writer tasks — never #tasks × #partitions files
        // (Pipeline.clusteredBy's rule) — and h-sorted within
        // each file: the writer sorts on partition columns anyway, so
        // appending h costs nothing and buys tight row-group stats —
        // a trickle probe's pushed In(h, …) filter then prunes row
        // groups instead of scanning the bucket.
        .repartitionByRange(nTasks, col("hp"), col("h"))
        .sortWithinPartitions(col("hp"), col("seg"), col("h"))
        .write
        .partitionBy("hp", "seg")
        .mode("overwrite")
        .parquet(tmp.toString)
      writeFreshManifests(fs, tmp, "base0")
      writeTextFile(fs, new HPath(tmp, "_buckets"), nb.toString)
      writeTextFile(fs, new HPath(tmp, "_segmented"), "1")
      appliedId.foreach(id => writeTextFile(fs, new HPath(tmp, "_applied_id"), id.toString))
      writeTextFile(
        fs,
        new HPath(tmp, "_commit"),
        "full" + (if (appliedId.isDefined) " id" else " noid")
      )
      beforeCommit()
      rollForwardPartitioned(fs, fsPath, tmp, old)
    } else {
      // Segment APPEND — the steady-state path: one new `seg=b<id>`
      // per touched partition. The partial is written to a FRESH tmp
      // dir (plain commit — no dynamic-overwrite machinery, which
      // costs an existing-partition discovery plus a staged serial
      // commit, measured at ~1 s of pure overhead on a small batch)
      // and each segment is then moved in with a delete+rename pair:
      // idempotent, so a replayed batch replaces its own segments with
      // identical content and converges from any crash point (a stale
      // tmp is pre-commit garbage, deleted on entry). Existing
      // segments are never read or rewritten; per-batch write cost is
      // the partial's size. The marker advances only after the append.
      ensureSegmented(fs, fsPath) // states written before segmentation
      val segName = appliedId
        .map(id => s"b$id")
        .getOrElse("u" + java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      val tmpA = new HPath(s"$statePath.__append_tmp")
      deleteOrFail(fs, tmpA)
      partial
        .withColumn("hp", hpOf)
        .withColumn("seg", lit(segName))
        // Range-grouped writer tasks at the cluster's parallelism —
        // neither one task per bucket (512 tiny task commits for a
        // trickle batch) nor one bucket per task (a huge batch's
        // partial divided by the bucket count): each task writes a
        // contiguous (hp, h) slice, h-disjoint per file.
        .repartitionByRange(spark.sparkContext.defaultParallelism, col("hp"), col("h"))
        // h-sorted files (see the full-mode write): tight row-group
        // stats for trickle-probe pruning, at zero extra sort cost.
        .sortWithinPartitions(col("hp"), col("seg"), col("h"))
        .write
        .partitionBy("hp", "seg")
        .mode("overwrite")
        .parquet(tmpA.toString)
      // Idempotent move-in: a replay deletes and replaces its own
      // segment; a crash mid-loop converges on the replay. The writer
      // knows its own segment's bytes, so the `_segs` manifest upsert
      // costs one summary of the FRESH segment + one manifest
      // read/write per touched partition — never a re-listing of the
      // partition's accumulated segments. O(touched buckets) driver
      // metadata calls per batch, however many segments the state holds.
      val sizesByHp =
        new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Long]]()
      beforeCommit()
      forEachBucketParallel(listHpDirs(fs, tmpA)) { hpDir =>
        val srcSeg = new HPath(hpDir, s"seg=$segName")
        metaInc()
        val segBytes = fs.getContentSummary(srcSeg).getLength
        val stHp = new HPath(fsPath, hpDir.getName)
        fs.mkdirs(stHp)
        val segDst = new HPath(stHp, s"seg=$segName")
        deleteOrFail(fs, segDst)
        renameOrFail(fs, srcSeg, segDst)
        val sizes = segSizesOf(fs, stHp) + (segName -> segBytes)
        writeSegManifest(fs, stHp, sizes)
        sizesByHp.put(hpDir.getName.stripPrefix("hp=").toInt, sizes)
      }
      deleteOrFail(fs, tmpA)
      appliedId.foreach(advanceRootMarker(fs, fsPath, _))
      compactDirtySegments(
        spark, fs, fsPath, dirty, maxSegments, hpOf,
        scala.jdk.CollectionConverters.MapHasAsScala(sizesByHp).asScala
      )
    }
  }

  /** Schema drift between two dataset versions: columns added, removed,
    * or type-changed (the check an ingest gate runs before accepting a
    * snapshot whose producer may have evolved). Pure metadata — schemas
    * come from footers, no data scan.
    */
  def schemaDiff(spark: SparkSession, oldPath: String, newPath: String): DataFrame = {
    import spark.implicits._
    def fields(p: String): Map[String, String] =
      spark.read.parquet(p).schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val o = fields(oldPath)
    val n = fields(newPath)
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c => (c, "added", null: String, n(c))) ++
        (o.keySet -- n.keySet).toSeq.sorted.map(c => (c, "removed", o(c), null: String)) ++
        (o.keySet & n.keySet).toSeq.sorted.collect {
          case c if o(c) != n(c) => (c, "type_changed", o(c), n(c))
        }
    rows.toDF("column", "change", "old_type", "new_type")
  }

  /** Retention enforcement on a hive-partitioned layout: delete the
    * partition DIRECTORIES whose `k=v` values the predicate marks
    * expired — a metadata/filesystem operation, no data scan or
    * rewrite, which is what makes TTL viable on a 100 TB table. Nested
    * partition levels are walked depth-first and a directory is removed
    * when the predicate expires its accumulated `k=v` path.
    *
    * Returns the deleted partition paths.
    */
  def expirePartitions(
      spark: SparkSession,
      path: String,
      expired: Map[String, String] => Boolean
  ): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: org.apache.hadoop.fs.Path, spec: Map[String, String]): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("=")) {
          val Array(k, v) = name.split("=", 2)
          val childSpec = spec + (k -> v)
          if (expired(childSpec)) {
            fs.delete(st.getPath, true)
            deleted += st.getPath.toString
          } else walk(st.getPath, childSpec)
        }
      }
    walk(root, Map.empty)
    deleted.toSeq
  }

  /** 2-D Morton (z-order) value: interleave the low `bits` bits of the
    * min/max-normalized values of two integer columns. Integer-exact
    * under the precondition `(max − min) · (2^bits − 1) < 2^53` (any
    * realistic key domain; for full-range 64-bit hash keys, pre-quantize
    * before calling): within it the floor-division below lands exactly
    * on the integer quotient (see comment), matching DuckDB's `//`.
    */
  def zValue(x: Column, y: Column, xMin: Column, xMax: Column, yMin: Column, yMax: Column, bits: Int = 8): Column = {
    val top = (1L << bits) - 1
    // floor(scaled/range) here is exact: scaled < 2^53 so both operands
    // are exact doubles, the true quotient is k − m/range for integers
    // k,m, and 1/range ≥ 2^-31 is orders of magnitude larger than the
    // 0.5-ulp division error at quotient ≤ 2^bits — the floor can never
    // land on the wrong side. Equals integer `div` / DuckDB `//`.
    def q(c: Column, mn: Column, mx: Column): Column = {
      val scaled = (c.cast("long") - mn.cast("long")) * top
      val range = greatest(lit(1L), mx.cast("long") - mn.cast("long"))
      floor(scaled / range)
    }
    val qx = q(x, xMin, xMax)
    val qy = q(y, yMin, yMax)
    (0 until bits)
      .map { b =>
        shiftright(qx, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
          shiftright(qy, b).bitwiseAND(lit(1L)) * lit(2L << (2 * b))
      }
      .reduce(_ + _)
  }

  /** Z-order clustering rewrite: sort a dataset along the Morton curve
    * of two columns and write `nFiles` range-partitioned files. Rows
    * close in BOTH dimensions land in the same file, so per-file
    * min/max stats become tight on BOTH columns at once — a predicate
    * on either column then prunes most files ([[fileStats]] +
    * [[prunedRead]]), where a single-column sort would only ever prune
    * on that one column. This is the data-layout half of data skipping;
    * at 100 TB it is the difference between scanning a corpus and
    * scanning a slice.
    *
    * Min/max for the normalization come from one 1-row aggregate
    * (a bounded driver value, not a data collect).
    */
  def zorderWrite(
      spark: SparkSession,
      df: DataFrame,
      xCol: String,
      yCol: String,
      outPath: String,
      nFiles: Int,
      bits: Int = 8
  ): Unit = {
    // Cast inside the agg so int-typed keys don't ClassCastException on
    // Row.getLong (it does not widen).
    val mm = df
      .agg(
        min(col(xCol).cast("long")).as("xmn"),
        max(col(xCol).cast("long")).as("xmx"),
        min(col(yCol).cast("long")).as("ymn"),
        max(col(yCol).cast("long")).as("ymx")
      )
      .head()
    if (mm.isNullAt(0)) { // empty input: write the empty dataset as-is
      df.write.mode("overwrite").parquet(outPath)
      return
    }
    val z = zValue(
      col(xCol),
      col(yCol),
      lit(mm.getLong(0)),
      lit(mm.getLong(1)),
      lit(mm.getLong(2)),
      lit(mm.getLong(3)),
      bits
    )
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(outPath)
  }

  /** Per-file min/max statistics for long-typed columns, read from
    * parquet FOOTERS — no data pages are touched, so building the
    * skipping index over a 100 TB dataset costs one footer read per
    * file, distributed over the cluster (`spark.parallelize` over the
    * file list, one footer per task — never a driver loop over
    * thousands of files). Returns (file, column, min_value, max_value).
    *
    * Footer statistics are written by every parquet writer Spark ships;
    * this is the same information engines' data-skipping indexes (and
    * table formats' manifests) persist.
    */
  private def listParquet(spark: SparkSession, path: String): Seq[String] = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(fsPath)
      .map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString)
      .toSeq
  }

  def fileStats(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val files = listParquet(spark, path)
    val wanted = cols.toSet
    // Ship the SESSION's Hadoop configuration to the footer-reading
    // tasks (Configuration is a Writable): a default Configuration()
    // would lack the session's filesystem settings (credentials,
    // endpoints) on any non-local store.
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(baos)
      spark.sparkContext.hadoopConfiguration.write(dos)
      dos.close()
      baos.toByteArray
    }
    val bcConf = spark.sparkContext.broadcast(confBytes)
    spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .flatMap { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.readFields(
          new java.io.DataInputStream(new java.io.ByteArrayInputStream(bcConf.value))
        )
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = reader.getFooter.getBlocks
          // A (file, column) stats row is emitted ONLY when every row
          // group bounds the column — a block with missing stats makes
          // the file's range unknown, and emitting a partial range would
          // let prunedRead silently skip in-range rows. (An all-null
          // block counts as bounded: it holds no values to range over.)
          var nBlocks = 0
          val perCol = scala.collection.mutable.Map.empty[String, (Long, Long)]
          val coveredBlocks = scala.collection.mutable.Map.empty[String, Int]
          blocks.forEach { b =>
            nBlocks += 1
            b.getColumns.forEach { c =>
              val name = c.getPath.toDotString
              if (wanted.contains(name)) {
                val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                  val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                  val cur = perCol.getOrElse(name, (Long.MaxValue, Long.MinValue))
                  perCol(name) = (math.min(cur._1, mn), math.max(cur._2, mx))
                  coveredBlocks(name) = coveredBlocks.getOrElse(name, 0) + 1
                } else if (st != null && !st.isEmpty && st.getNumNulls == b.getRowCount) {
                  coveredBlocks(name) = coveredBlocks.getOrElse(name, 0) + 1
                }
              }
            }
          }
          perCol.toSeq.collect {
            case (c, (mn, mx)) if coveredBlocks.getOrElse(c, 0) == nBlocks => (f, c, mn, mx)
          }
        } finally reader.close()
      }
      .toDF("file", "column", "min_value", "max_value")
  }

  /** Data-skipping read: skip only the files whose footer [min,max]
    * range on `pruneCol` provably excludes [lo,hi]; read the rest and
    * apply the residual filter. CONSERVATIVE by construction — a file
    * with unknown stats (non-stats writer, partial row-group stats) is
    * always read, so skipping can never lose rows. The stats table is
    * one short row per (file, column) — bounded driver state, exactly
    * what any skipping index materializes.
    *
    * Returns (dataframe, filesRead, filesTotal).
    */
  def prunedRead(
      spark: SparkSession,
      path: String,
      pruneCol: String,
      lo: Long,
      hi: Long,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None
  ): (DataFrame, Int, Int) = {
    val allFiles = listParquet(spark, path)
    val ranges = fileStats(spark, path, Seq(pruneCol))
      .filter(col("column") === pruneCol)
      .select("file", "min_value", "max_value")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val keep = allFiles.filter { f =>
      ranges.get(f) match {
        case Some((mn, mx)) => mn <= hi && mx >= lo
        case None => true // unknown stats: must read
      }
    }
    // The DATASET-level schema must be the UNION across files
    // (mergeSchema): plain inference reads one footer, and if that file
    // omits a column under schema evolution the residual filter would
    // not resolve. With the pinned union schema, files lacking the
    // column read it as null and the filter rejects those rows.
    // mergeSchema inference touches every footer — a table property,
    // not a query property — so callers issuing many pruned reads
    // should derive it once (e.g. alongside their stats index) and pass
    // `schemaHint`.
    val unionSchema = schemaHint.getOrElse(
      spark.read.option("mergeSchema", "true").parquet(path).schema
    )
    val df =
      if (keep.isEmpty)
        // No file can match: keep the schema but read nothing
        // (the false predicate prunes every file at planning time).
        spark.read.schema(unionSchema).parquet(path).where(lit(false))
      else
        spark.read
          .schema(unionSchema)
          .parquet(keep: _*)
          .filter(col(pruneCol) >= lo && col(pruneCol) <= hi)
    (df, keep.length, allFiles.length)
  }

  /** Corpus RELEASE DIFF — what changed between two snapshots of an
    * id-keyed table: per id, `status` ∈ `added` (new side only),
    * `removed` (old side only), `changed` (both sides, content
    * fingerprint differs), `unchanged`. The governance primitive
    * behind release notes, takedown verification ("is the doc gone
    * from v2?"), and incremental re-processing (downstream jobs —
    * re-embed, re-tokenize — consume only the `added`/`changed`
    * slice instead of the full corpus).
    *
    * The fingerprint is NULL-SAFE and boundary-unambiguous: each
    * content column is hashed separately (md5 of its string cast,
    * with NULL encoded as the literal `N` — not a hex character, so
    * it can never collide with a real digest) and the fixed-width
    * per-column digests are concatenated and hashed again. An earlier
    * revision fed the raw values to `concat_ws`, which SKIPS nulls:
    * (`"x"`, NULL) and (NULL, `"x"`) fingerprinted identically, and a
    * column flipping NULL ↔ empty-string was invisible — a changed
    * doc could report `unchanged` in a tool pitched for takedown
    * verification. Per-column hashing also removes separator
    * ambiguity (every column contributes exactly 32 chars or `N`, so
    * a value containing a separator can't shift a column boundary).
    *
    * Content compare without moving content: each side reduces to
    * (id, 32-hex) rows AT THE SCAN, and the full-outer join is
    * id-keyed and co-partitionable. At 100 TB the diff is two
    * projected scans + one equi join of fingerprint-width rows; text
    * bytes never shuffle.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      contentCols: Seq[String]
  ): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs at least one content column")
    def fp(df: DataFrame, out: String) =
      df.select(
        col(idCol),
        md5(concat(contentCols.map(c =>
          coalesce(md5(col(c).cast("string")), lit("N"))): _*)).as(out)
      )
    fp(oldSnap, "old_fp")
      .join(fp(newSnap, "new_fp"), Seq(idCol), "full_outer")
      .withColumn(
        "status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") === col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed"))
      )
  }
}

/** Driver-side filesystem-metadata call counter for the span-state
  * ingest path (probe prune, segment append, manifest reads/writes,
  * tiering) — instrumentation only, read by `MaintenanceSpec` to pin
  * the O(touched buckets)-per-batch driver fan-out bound. No contract
  * depends on it.
  */
private[graft] object SpanStateMeta {
  private val n = new java.util.concurrent.atomic.AtomicLong
  private[operators] def inc(): Unit = { n.incrementAndGet(); () }
  def reset(): Unit = n.set(0L)
  def count: Long = n.get()
}
