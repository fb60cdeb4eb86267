package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DURABLE tree-membership state — the build-once/fold-batches arm of
  * [[ConvTree]], completing the incremental discipline every other
  * family here has (exact/near/span/semantic dedup, IVF, DSIR, arena
  * wins, packing): a turn store at campaign scale appends turn batches
  * continuously, and recomputing [[ConvTree.treePaths]] over the FULL
  * store per drain pays a store-wide shuffle and store-wide integrity
  * gates every time. This state persists the membership table
  * `(conv_id, path_id, pos, turn_id, train)` under a state root and
  * folds each appended batch by RE-WALKING exactly the conversations
  * the batch touches:
  *
  *   - the state is conv-hash BUCKETED (`cv=` hive partitions, see
  *     [[fold]]), and every fold effect is conversation-local, so a
  *     fold reads and rewrites ONLY the buckets its batch's
  *     conversations hash into — cost follows the batch, never the
  *     store (the spec asserts untouched buckets keep their files
  *     byte-untouched);
  *   - within a touched bucket, conversations the batch does NOT
  *     touch pass through row-identical; a touched conversation's
  *     parent pointers are RECONSTRUCTED from its membership rows
  *     (each path's `pos p` turn is the child of its `pos p−1` turn —
  *     unique in a tree), merged with the batch's new turns, and the
  *     whole conversation re-walks through [[ConvTree]]'s linear
  *     per-conversation walk. Every subtle incremental case — leaf
  *     extensions replacing a path under its new leaf key, first-visit
  *     flags MOVING when an extension deletes a train-carrying path,
  *     non-monotone late forks stealing a minimum — is from-scratch
  *     semantics by construction, because the touched conversation IS
  *     re-derived from scratch. (The previous form stitched new paths
  *     onto state-read prefixes through ~15 keyed joins and recomputed
  *     minima for exactly the affected turns; since the bucket rewrite
  *     already pays the bucket's full I/O, re-walking the touched
  *     conversations costs the same I/O, strictly less orchestration —
  *     TWO Spark actions per fold instead of ~15 — and its equality to
  *     the from-scratch replay is structural rather than argued
  *     case-by-case.)
  *
  * Integrity (all LOUD, all before any bucket swaps in): batch
  * `(conv, turn)` keys unique; no batch key collides with a state key
  * (a re-sent turn row must be deduplicated upstream — `_applied_id`
  * handles exact batch replays); every batch parent resolves within
  * its conversation to a state turn or a batch turn; cycles and
  * deeper-than-`maxDepth` chains refused by the walk's guard; a
  * malformed state row set (non-contiguous path positions, conflicting
  * reconstructed parents — a hand-edited state) fails the
  * reconstruction loudly instead of silently dropping paths. Gates
  * fire inside the staging write, which lands in a tmp dir: a gate
  * failure leaves the state untouched.
  *
  * Exactly-once: [[Maintenance.foldState]]'s `_applied_id` marker +
  * atomic tmp/old swap — a replayed batch is a no-op, a crash between
  * the swap's renames is healed at entry.
  *
  * Scale shape: per fold, ONE conv-hash exchange of the touched
  * buckets' rows + the batch (the same exchange the bucket-partitioned
  * write needs anyway — the walk rides it), one linear in-task walk
  * per touched conversation, zero joins, zero barrier rounds; driver
  * traffic is the touched-bucket list and the write. Task memory is
  * bounded by the largest single conversation's membership rows — the
  * same rows the bucket rewrite must materialize regardless.
  */
object TreeState {

  private val COLS = Seq("conv_id", "path_id", "pos", "turn_id", "train")

  /** Single-writer fence ([[DurableRoot.treeState]]). Two concurrent
    * folds on one state root (a `turns_stream` drain racing a manual
    * `tree_state` verb — a double-fired scheduler at campaign scale)
    * would interleave per-bucket swaps and `_seg_applied` markers from
    * DIFFERENT applied ids; convergence is only proven for serial
    * retries of ONE id. Writers (fold, reshard) therefore hold the
    * root's `DurableRoot` lease, whose token is the applied id (a
    * reshard's is its bucket count), so a crashed fold's retry
    * re-enters; readers heal only when no lease is held.
    */
  private def durable(spark: SparkSession, statePath: String) =
    DurableRoot.treeState(spark, statePath, "TreeState")

  /** Entry healing shared by EVERY state reader and writer: first a
    * reshard stranded between its whole-root renames (a vanished root
    * would read as "no state"), then buckets stranded between a
    * crashed fold swap's two renames — restore a bucket from its old
    * dir when the target vanished, clear the old dir when the target
    * landed. Folds always healed this way at entry; readers
    * ([[memberships]], [[report]]) and [[reshard]] must too, or a
    * crashed fold's stranded bucket is silently omitted from reads —
    * and a reshard would PERSIST the loss under the new hash while the
    * next fold's healing renames the leftover backup into the
    * re-hashed root, corrupting bucket pruning.
    */
  private[operators] def healAt(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      reshardOld: org.apache.hadoop.fs.Path,
      foldOld: org.apache.hadoop.fs.Path
  ): Unit = {
    Maintenance.recoverSwap(fs, root, reshardOld)
    if (fs.exists(foldOld)) {
      fs.listStatus(foldOld)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cv="))
        .foreach { st =>
          Maintenance.recoverSwap(fs, new org.apache.hadoop.fs.Path(root, st.getPath.getName), st.getPath)
        }
      Maintenance.deleteOrFail(fs, foldOld)
    }
  }

  private def hasCvDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path
  ): Boolean =
    fs.exists(root) && fs
      .listStatus(root)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("cv="))

  /** The id-type contract, made mechanical: `_idtypes` pins the conv
    * and turn id types (catalogString, one per line) at state
    * creation, so (a) a fold whose batch drifts to different id types
    * fails LOUDLY at entry instead of unionByName silently widening
    * into an opaque encoder ClassCastException, and (b) a data-less
    * root (empty first batch) serves a typed empty table in the
    * STATE's types, not a hardcoded Long default — a string-keyed
    * store round-trips through its empty state correctly.
    */
  private def readIdTypes(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path
  ): Option[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] =
    Maintenance.readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_idtypes")).map { s =>
      val Array(c, t) = s.trim.split("\n").map(_.trim)
      (org.apache.spark.sql.types.DataType.fromDDL(c),
        org.apache.spark.sql.types.DataType.fromDDL(t))
    }

  private def writeIdTypes(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      convT: org.apache.spark.sql.types.DataType,
      turnT: org.apache.spark.sql.types.DataType
  ): Unit =
    Maintenance.writeTextFile(
      fs,
      new org.apache.hadoop.fs.Path(root, "_idtypes"),
      s"${convT.catalogString}\n${turnT.catalogString}")

  /** Typed empty membership table for a data-less state root (created
    * by an empty first batch): parquet schema inference has no footer
    * to read, so the shape comes from the `_idtypes` sidecar — Long
    * ids only as the legacy fallback for states created before the
    * sidecar existed.
    */
  private def emptyMemberships(
      spark: SparkSession,
      idTypes: Option[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)]
  ): DataFrame = {
    import org.apache.spark.sql.types._
    val (convT, turnT) = idTypes.getOrElse((LongType, LongType))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("conv_id", convT),
        StructField("path_id", turnT),
        StructField("pos", LongType),
        StructField("turn_id", turnT),
        StructField("train", BooleanType)
      ))
    )
  }

  /** The state's membership table, exactly [[ConvTree.treePaths]]'
    * output over every folded turn ever appended. Heals a reshard
    * stranded between its whole-root renames AND any bucket stranded
    * by a crashed fold first, so a reader never sees a vanished state
    * or a silently missing bucket. A created-but-empty state (an
    * empty first batch) reads as a typed empty table, not a parquet
    * schema-inference failure.
    */
  def memberships(spark: SparkSession, statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val d = durable(spark, statePath)
    d.healForRead()
    val fs = d.fs
    // markers-only root (empty first batch): nothing for parquet
    // schema inference to read — serve the typed empty table. A
    // legacy bare-parquet root still reads as data.
    val markersOnly = fs.exists(root) && !hasCvDirs(fs, root) &&
      fs.listStatus(root).forall(st => !st.isDirectory && st.getPath.getName.startsWith("_"))
    if (markersOnly) emptyMemberships(spark, readIdTypes(fs, root))
    else Parquet.read(spark, statePath).select(COLS.map(col): _*)
  }

  /** Re-partition an existing state under a NEW bucket count — the
    * escape hatch for a `_buckets` pin sized before the store's growth
    * was known (the span family's `span_state_compact --buckets`
    * discipline). One full read + one cv-keyed write under the new
    * hash, swapped in whole via the rename-pair protocol; the root
    * `_applied_id` survives (exactly-once semantics are unchanged),
    * per-bucket `_seg_applied` markers do NOT carry over (they are
    * retry-convergence state for a specific applied id; their absence
    * just means no bucket short-circuits on the next retry — safe).
    * Crash between the two renames heals at the next [[fold]] /
    * [[memberships]] / [[reshard]] entry.
    */
  def reshard(spark: SparkSession, statePath: String, newBuckets: Int): Unit = {
    require(newBuckets > 0 && newBuckets <= 4096, s"buckets must be in [1, 4096], got $newBuckets")
    val root = new org.apache.hadoop.fs.Path(statePath)
    val d = durable(spark, statePath)
    val fs = d.fs
    val oldRoot = new org.apache.hadoop.fs.Path(s"$statePath.__reshard_old")
    val tmpRoot = new org.apache.hadoop.fs.Path(s"$statePath.__reshard_tmp")
    d.write(s"reshard:$newBuckets") {
      require(fs.exists(root), s"no TreeState at $statePath")
      require(
        Maintenance.readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_buckets")).isDefined,
        s"TreeState at $statePath has no _buckets pin — not a segmented state; rebuild instead"
      )
      val applied = Maintenance.readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_applied_id"))
      val idTypes = Maintenance.readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_idtypes"))
      Maintenance.deleteOrFail(fs, tmpRoot)
      if (!hasCvDirs(fs, root)) {
        // data-less state (empty first batch): re-pinning the bucket
        // count IS the whole reshard — nothing to rewrite or swap
        Maintenance.writeTextFile(
          fs, new org.apache.hadoop.fs.Path(root, "_buckets"), newBuckets.toString)
        return
      }
      memberships(spark, statePath)
        .withColumn("cv", pmod(hash(col("conv_id")), lit(newBuckets)))
        .repartition(col("cv"))
        .write
        .partitionBy("cv")
        .mode("overwrite")
        .parquet(tmpRoot.toString)
      Maintenance.writeTextFile(
        fs, new org.apache.hadoop.fs.Path(tmpRoot, "_buckets"), newBuckets.toString)
      applied.foreach(a =>
        Maintenance.writeTextFile(fs, new org.apache.hadoop.fs.Path(tmpRoot, "_applied_id"), a))
      idTypes.foreach(t =>
        Maintenance.writeTextFile(fs, new org.apache.hadoop.fs.Path(tmpRoot, "_idtypes"), t))
      Maintenance.swapInto(fs, tmpRoot, root, oldRoot)
    }
  }

  /** Metadata-only sizing report: (bucket, bytes) per `cv=` dir plus
    * the `_buckets` pin — the observable a store operator reads before
    * deciding to [[reshard]] (the `span_state_report` discipline).
    */
  def report(spark: SparkSession, statePath: String): Seq[(Int, Long)] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val d = durable(spark, statePath)
    d.healForRead()
    val fs = d.fs
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cv="))
      .map(st =>
        (st.getPath.getName.drop(3).toInt, fs.getContentSummary(st.getPath).getLength))
      .sortBy(_._1)
      .toIndexedSeq
  }

  /** Fold one appended turn batch into the membership state at
    * `statePath` (created on first fold). Returns the post-fold
    * memberships. `appliedId` is the exactly-once batch marker.
    *
    * LAYOUT: the state is hive-partitioned by a conversation-hash
    * bucket (`cv = pmod(hash(conv_id), buckets)`, `buckets` pinned in
    * `_buckets` at creation — later calls ignore their parameter). A
    * conversation's rows live wholly in one bucket and every fold
    * effect is conv-local, so a fold REWRITES ONLY THE BUCKETS ITS
    * BATCH TOUCHES — read and write cost follow the batch's
    * conversation set, not the store (the full-state
    * refreshAggregate rewrite this replaces was O(store) per fold).
    * Unlike the span family's append-only segments (sound there
    * because min/max merge-on-read is idempotent), membership rows
    * are REPLACED by leaf extensions and flag moves, so the unit of
    * convergence is the bucket rewrite:
    *
    *   - each rewritten bucket lands with a `_seg_applied` marker
    *     INSIDE it (written into the staging dir before the swap, so
    *     marker and content move atomically);
    *   - a retry of a crashed fold skips buckets whose marker already
    *     carries this `appliedId` — and EXCLUDES their batch rows
    *     from the re-fold (they are already in the state; re-folding
    *     them would fire the collision gate) — and recomputes the
    *     rest from their unchanged old content, which is
    *     deterministic, so retries converge from any crash point;
    *   - per-bucket swaps go through the rename-pair protocol with
    *     entry healing ([[Maintenance.recoverSwap]] per stranded
    *     bucket), so a crash between a bucket's two renames never
    *     loses its old content;
    *   - the root `_applied_id` advances only after every touched
    *     bucket landed — the global short-circuit for exact replays.
    *
    * Contract: with `appliedId` set, a failed fold must be RETRIED
    * with the same id until it applies (foreachBatch's at-least-once,
    * the `turns_stream` arm) — an abandoned half-applied batch leaves
    * the store mid-fold, exactly like abandoning a failed span-state
    * batch. Ids must be unique per batch. `appliedId = None` skips
    * all convergence machinery (single-shot callers only).
    */
  def fold(
      spark: SparkSession,
      batch: DataFrame,
      convCol: String,
      turnCol: String,
      parentCol: String,
      statePath: String,
      appliedId: Option[Long],
      maxDepth: Int = 10000,
      buckets: Int = 64,
      maxConvRows: Int = 2000000
  ): DataFrame = {
    require(buckets > 0 && buckets <= 4096, s"buckets must be in [1, 4096], got $buckets")
    val b = batch.select(
      col(convCol).as("conv_id"),
      col(turnCol).as("turn_id"),
      col(parentCol).as("parent_id")
    )
    val root = new org.apache.hadoop.fs.Path(statePath)
    val d = durable(spark, statePath)
    val fs = d.fs
    val tmp = new org.apache.hadoop.fs.Path(s"$statePath.__fold_tmp")
    val oldRoot = new org.apache.hadoop.fs.Path(s"$statePath.__fold_old")
    // ── single-writer fence, then entry healing ───────────────────
    // The lease is taken BEFORE healing and BEFORE clearing tmp: a
    // concurrent writer's staging dir must never be clobbered, and
    // healing's renames must never race a live swap. A crashed fold's
    // retry carries the same applied id → same token → re-enters;
    // adhoc (id-less) folds take a UNIQUE per-attempt token (see
    // DurableRoot.leaseToken). The heal restores a reshard stranded
    // between its whole-root renames (a vanished root would otherwise
    // read as "no state" and silently rebuild from this batch alone),
    // then buckets stranded between a crashed fold swap's two renames.
    d.write(DurableRoot.leaseToken(appliedId)) {
      val bucketsPin = new org.apache.hadoop.fs.Path(root, "_buckets")
      val exists = fs.exists(root)
      val k: Int =
        if (!exists) buckets
        else
          Maintenance.readTextFile(fs, bucketsPin) match {
            case Some(s) => s.trim.toInt
            case None if fs.listStatus(root).isEmpty =>
              // a crash between mkdirs(root) and the pin write leaves a
              // completely EMPTY root — treat it as fresh (re-pin below)
              // instead of refusing forever; the refusal is reserved for
              // roots that actually hold anything under an unknown
              // layout (legacy bare parquet included)
              buckets
            case None =>
              throw new IllegalArgumentException(
                s"TreeState at $statePath has no _buckets pin — a pre-segmentation (or foreign) " +
                  "state layout cannot be folded into; rebuild by re-folding the turn store " +
                  "into a fresh --state dir"
              )
          }
      def marker(p: org.apache.hadoop.fs.Path): Option[Long] =
        Maintenance.readTextFile(fs, p).map(_.trim.toLong)
      val rootApplied = marker(new org.apache.hadoop.fs.Path(root, "_applied_id"))
      if (exists && appliedId.isDefined && rootApplied == appliedId)
        return memberships(spark, statePath) // retry of an applied batch: no-op
      // Applied-id monotonicity: a replay of the LAST batch is the
      // no-op above; an id BELOW the state's marker is a misrouted or
      // out-of-order delivery (a double-fired scheduler re-sending
      // history) — refused here with the real diagnosis instead of
      // letting the key-collision gate misdescribe it later.
      for (id <- appliedId; cur <- rootApplied)
        require(
          id > cur,
          s"TreeState.fold: applied id $id is older than the state's marker $cur at " +
            s"$statePath — applied ids must strictly increase per state (a retry of the " +
            "LAST applied batch is a no-op; an older id means an out-of-order or " +
            "misrouted batch delivery)")
      // Id-type contract (mechanical): the `_idtypes` sidecar pins the
      // conv/turn id types at creation; a batch whose id types drift
      // (int batch onto a long state, string onto long) fails HERE,
      // loudly, instead of unionByName silently widening into an
      // encoder ClassCastException inside the walk.
      readIdTypes(fs, root).foreach { case (convT, turnT) =>
        val bc = b.schema("conv_id").dataType
        val bt = b.schema("turn_id").dataType
        require(
          bc == convT && bt == turnT,
          s"TreeState.fold: batch id types (conv: ${bc.catalogString}, turn: " +
            s"${bt.catalogString}) do not match the state's pinned types (conv: " +
            s"${convT.catalogString}, turn: ${turnT.catalogString}) at $statePath — a " +
            "widening union would corrupt the membership encoding; cast the batch to the " +
            "state's types (or rebuild the state) deliberately")
      }
      Maintenance.deleteOrFail(fs, tmp) // stale staging from a crashed attempt
      if (!exists || Maintenance.readTextFile(fs, bucketsPin).isEmpty) {
        fs.mkdirs(root)
        Maintenance.writeTextFile(fs, bucketsPin, k.toString)
      }
      if (readIdTypes(fs, root).isEmpty) {
        // Backfill the sidecar for states created before it existed:
        // from the state's OWN parquet schema when it holds data (the
        // authoritative types — and the batch must match them), from
        // the batch when the root is fresh or markers-only (this batch
        // IS what defines the state's types).
        val (convT, turnT) =
          if (hasCvDirs(fs, root)) {
            val st = Parquet.read(spark, statePath).schema
            (st("conv_id").dataType, st("turn_id").dataType)
          } else (b.schema("conv_id").dataType, b.schema("turn_id").dataType)
        writeIdTypes(fs, root, convT, turnT)
        readIdTypes(fs, root).foreach { case (c, t) =>
          val (bc, bt) = (b.schema("conv_id").dataType, b.schema("turn_id").dataType)
          require(
            bc == c && bt == t,
            s"TreeState.fold: batch id types (conv: ${bc.catalogString}, turn: " +
              s"${bt.catalogString}) do not match the state's types (conv: " +
              s"${c.catalogString}, turn: ${t.catalogString}) at $statePath — cast the " +
              "batch to the state's types (or rebuild the state) deliberately")
        }
      }
    val segOf = pmod(hash(col("conv_id")), lit(k))
    val touched: Seq[Int] = b
      .select(segOf.as("__cv"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .sorted
      .toIndexedSeq
    val alreadyApplied: Set[Int] = appliedId match {
      case Some(id) =>
        touched.filter(s =>
          marker(new org.apache.hadoop.fs.Path(root, s"cv=$s/_seg_applied")).contains(id)).toSet
      case None => Set.empty
    }
    val pending = touched.filterNot(alreadyApplied)
    if (pending.nonEmpty) {
      val bPending =
        if (alreadyApplied.isEmpty) b
        else b.filter(segOf.isin(pending.map(Int.box): _*))
      val hasData = hasCvDirs(fs, root)
      val mTouched =
        if (hasData)
          Parquet.read(spark, statePath)
            .filter(col("cv").isin(pending.map(Int.box): _*))
            .select(COLS.map(col): _*)
        else
          // typed empty membership table (first fold / first-fold retry)
          b.select(
            col("conv_id"),
            col("turn_id").as("path_id"),
            lit(0L).as("pos"),
            col("turn_id"),
            lit(true).as("train")
          ).limit(0)
      // The fold's ONLY exchange doubles as the write layout: foldInto
      // partitions by the cv expression (a function of conv_id, so
      // conversations stay co-located for the walk), each bucket's
      // rows land wholly in one task, and the partitionBy write emits
      // ONE file per bucket with no second shuffle. Walk-gate failures
      // surface during this staging write — tmp is discarded at the
      // next entry, the state untouched.
      val folded = foldInto(mTouched, bPending, maxDepth, Some(segOf), maxConvRows)
      ConvTree.unwrapGateFailure {
        folded
          .withColumn("cv", segOf)
          .write
          .partitionBy("cv")
          .mode("overwrite")
          .parquet(tmp.toString)
      }
      fs.mkdirs(oldRoot)
      pending.foreach { s =>
        val staged = new org.apache.hadoop.fs.Path(tmp, s"cv=$s")
        require(
          fs.exists(staged),
          s"TreeState.fold: bucket $s was touched by the batch but produced no staged rows — " +
            "the fold output is inconsistent; refusing to swap"
        )
        appliedId.foreach(id =>
          Maintenance.writeTextFile(
            fs, new org.apache.hadoop.fs.Path(staged, "_seg_applied"), id.toString))
        val target = new org.apache.hadoop.fs.Path(root, s"cv=$s")
        val old = new org.apache.hadoop.fs.Path(oldRoot, s"cv=$s")
        Maintenance.swapInto(fs, staged, target, old)
      }
      Maintenance.deleteOrFail(fs, tmp)
      if (fs.exists(oldRoot)) Maintenance.deleteOrFail(fs, oldRoot)
    }
    appliedId.foreach(id =>
      Maintenance.writeTextFile(fs, new org.apache.hadoop.fs.Path(root, "_applied_id"), id.toString))
    memberships(spark, statePath)
    }
  }

  /** The incremental fold proper: `m` the current memberships of the
    * touched buckets, `b` the canonicalized batch turns. Pure
    * DataFrame → DataFrame (no I/O) so the spec suite can drive it
    * directly against from-scratch replays. `partitionKey` lets the
    * caller supply the exchange key (the bucket expression, a function
    * of `conv_id`) so the walk's one shuffle is also the write layout.
    *
    * Shape: tag-union the state rows and the batch rows, ONE hash
    * exchange on the partition key, then per conversation inside the
    * task: no batch rows → pass the state rows through row-identical;
    * batch rows → reconstruct the conversation's parent pointers from
    * its membership rows (path positions are contiguous 0..len and a
    * turn's parent is position-1 on any path that carries it — unique
    * in a tree; contiguity and parent agreement are checked loudly),
    * refuse state/batch key collisions, merge the batch's turns, and
    * re-walk the conversation through [[ConvTree]]'s linear walk —
    * from-scratch semantics for every touched conversation by
    * construction. Zero joins, zero driver actions.
    */
  private[graft] def foldInto(
      m: DataFrame,
      b: DataFrame,
      maxDepth: Int,
      partitionKey: Option[org.apache.spark.sql.Column] = None,
      maxConvRows: Int = 2000000
  ): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val convT = b.schema("conv_id").dataType
    val turnT = b.schema("turn_id").dataType
    val outSchema = StructType(Seq(
      StructField("conv_id", convT),
      StructField("path_id", turnT),
      StructField("pos", LongType, nullable = false),
      StructField("turn_id", turnT),
      StructField("train", BooleanType, nullable = false)
    ))
    // tagged union: state rows carry (path_id, pos, train), batch rows
    // carry the parent pointer — row layout
    // (conv, isBatch, path_id, pos, turn_id, parent_id, train)
    val mT = m.select(
      col("conv_id"),
      lit(false).as("__isb"),
      col("path_id"),
      col("pos").cast("long").as("pos"),
      col("turn_id"),
      lit(null).cast(b.schema("parent_id").dataType).as("parent_id"),
      col("train")
    )
    val bT = b.select(
      col("conv_id"),
      lit(true).as("__isb"),
      lit(null).cast(turnT).as("path_id"),
      lit(-1L).as("pos"),
      col("turn_id"),
      col("parent_id"),
      lit(false).as("train")
    )
    val md = maxDepth
    val mcr = maxConvRows
    mT.unionByName(bT)
      .repartition(partitionKey.getOrElse(col("conv_id")))
      .sortWithinPartitions(col("conv_id"))
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator
          .continually(())
          .takeWhile(_ => it.hasNext)
          .flatMap { _ =>
            val conv = it.head.get(0)
            val state = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
            val batch = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
            while (it.hasNext && it.head.get(0) == conv) {
              val r = it.next()
              if (r.getBoolean(1)) batch += ((r.get(4), r.get(5))) else state += r
              ConvTree.guardConvRows("TreeState.fold:", conv, state.length + batch.length, mcr)
            }
            if (batch.isEmpty)
              // untouched conversation in a touched bucket: row-identical
              state.iterator.map(r =>
                org.apache.spark.sql.Row(conv, r.get(2), r.getLong(3), r.get(4), r.getBoolean(6)))
            else {
              // reconstruct (turn -> parent) from the membership rows
              val byPath =
                new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[(Long, Any)]]()
              state.foreach { r =>
                var prs = byPath.get(r.get(2))
                if (prs == null) {
                  prs = scala.collection.mutable.ArrayBuffer.empty[(Long, Any)]
                  byPath.put(r.get(2), prs)
                }
                prs += ((r.getLong(3), r.get(4)))
              }
              val parentOf = new java.util.HashMap[Any, Any]()
              val hasParent = new java.util.HashSet[Any]()
              byPath.forEach { (path, prs) =>
                val sorted = prs.sortBy(_._1)
                var i = 0
                while (i < sorted.length) {
                  if (sorted(i)._1 != i.toLong)
                    throw new IllegalArgumentException(
                      s"TreeState.fold: conversation $conv path $path has non-contiguous " +
                        s"positions (expected $i, found ${sorted(i)._1}) — the membership " +
                        "state is corrupt; rebuild it from the turn store")
                  val t = sorted(i)._2
                  val p = if (i == 0) null else sorted(i - 1)._2
                  if (hasParent.contains(t)) {
                    if (parentOf.get(t) != p)
                      throw new IllegalArgumentException(
                        s"TreeState.fold: conversation $conv turn $t has conflicting parents " +
                          s"${parentOf.get(t)} and $p across its membership paths — the " +
                          "membership state is corrupt; rebuild it from the turn store")
                  } else {
                    hasParent.add(t)
                    parentOf.put(t, p)
                  }
                  i += 1
                }
              }
              // state/batch key collisions are refused BEFORE the merge
              // (a replayed batch is handled by _applied_id upstream)
              batch.foreach { case (t, _) =>
                if (hasParent.contains(t))
                  throw new IllegalArgumentException(
                    s"TreeState.fold: batch turn $t in conversation $conv already exists in " +
                      "the state — appended batches must carry NEW turns only (an exact " +
                      "batch replay is handled by the _applied_id marker; a re-edited turn " +
                      "needs a state rebuild)")
              }
              val allTurns = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
              hasParent.forEach(t => allTurns += ((t, parentOf.get(t))))
              allTurns ++= batch
              ConvTree.walkConversation(
                conv, allTurns, md,
                dupRemedy = "Deduplicate the appended batch first (an exact batch replay " +
                  "is handled by the _applied_id marker; a re-edited turn needs a state " +
                  "rebuild).")
            }
          }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
