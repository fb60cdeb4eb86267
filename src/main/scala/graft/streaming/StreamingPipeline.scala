package graft.streaming

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the engine-managed successor to the
  * reference's orchestration-level micro-batching (one Airflow run per
  * uploaded file — SURVEY §2.9). A file-source stream with
  * `Trigger.AvailableNow` gives the same per-file incremental semantics
  * with engine bookkeeping (exactly-once file tracking, checkpointed
  * state) instead of Airflow run configs.
  *
  * At scale: watermarks bound state; windowed aggregates shuffle once on
  * (window, key); `flatMapGroupsWithState` keeps per-user session state
  * partitioned by user across executors.
  */
object StreamingPipeline {

  /** foreachBatch body wrapper: every micro-batch is a single-flight
    * scratch-pin boundary. The operators the ingest arms call pin
    * intermediates with `localCheckpoint` (the settled batch, walked
    * memberships, span extents) — dead weight once the batch's outputs
    * are durable, but NOT evictable, so a long backlog drain would
    * otherwise accumulate one set of stranded pins per micro-batch
    * (and `maxFilesPerTrigger = 1` arms make micro-batches numerous by
    * design) until every later fold runs memory-starved. Pins that
    * existed before the batch (a caller's memo) survive.
    */
  private def perBatch(f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      graft.operators.Maintenance.releasingScratchPins(batch.sparkSession) {
        f(batch, batchId)
      }

  /** The ingest family's one stream skeleton: drain every file already
    * in `source` (`Trigger.AvailableNow`), one `body(batch, batchId)`
    * per micro-batch inside a [[perBatch]] scratch-pin boundary, with
    * file tracking and batch ids checkpointed under `checkpoint`.
    *
    * Exactly-once contract: `foreachBatch` is at-least-once — a restart
    * before the checkpoint commit replays the last batch under the SAME
    * batch id. Every body composes that into exactly-once by keying its
    * effects on the id: either as the applied id of a marker-guarded
    * state fold (a replayed id no-ops, and a crashed writer's lease is
    * re-entered under the same token), or as the key of an overwritten
    * output partition (`ingest_batch=<id>`, `pack_batch=<id>`, …),
    * which a replay rewrites with identical content.
    */
  private def drain(source: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit
  ): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch(body))
      .start()

  /** The body of the arms whose output is one overwritten partition per
    * micro-batch: `f(batch, batchId)` lands as
    * `outDir/<prefix>_batch=<id>` ([[drain]]'s contract), and an idle
    * trigger firing (an empty micro-batch) writes nothing.
    */
  private def batchKeyed(outDir: String, prefix: String)(
      f: (DataFrame, Long) => DataFrame
  ): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) f(batch, batchId).write.mode("overwrite").parquet(s"$outDir/${prefix}_batch=$batchId")

  /** Default events schema for the streaming source when the directory
    * is still empty at stream start (generators currently write `ts` as
    * µs timestamps without tz metadata → TIMESTAMP_NTZ). A file stream
    * needs an explicit schema; when files already exist we probe the
    * real footer schema instead, so epoch-nanos-long archives keep
    * working — `CoreQueries.normalizeEventTs` handles either shape.
    */
  val eventsRawSchema: StructType = StructType(
    Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    )
  )

  /** File-source stream over an events parquet directory. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // A missing or still-empty dir (a stream may start before its first
    // file lands) takes the default schema; any other FS failure
    // surfaces here rather than start the stream with a possibly-wrong
    // ts type.
    val schema = Parquet.schemaOf(spark, dir).filter(_.fieldNames.contains("ts")).getOrElse(eventsRawSchema)
    graft.queries.CoreQueries.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir)
    )
  }


  /** Windowed aggregation with a watermark: 5-minute tumbling windows
    * per event_type; late data beyond 10 minutes is dropped.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )

  case class SessionEvent(event_id: Long, user_id: Long, tsSec: Long)
  case class SessionState(sessionSeq: Long, lastTsSec: Long)
  case class SessionAssignment(event_id: Long, user_id: Long, session_seq: Long)

  /** Stateful sessionization: mirrors the batch q11 semantics (new
    * session after a >30-minute gap) with per-user state kept in the
    * state store. NoTimeout keeps micro-batch scheduling data-driven
    * (a processing-time timeout would spin empty batches under
    * AvailableNow-style runs); long-running deployments bound state by
    * switching to EventTimeTimeout + a watermark.
    */
  def sessionize(events: DataFrame)(implicit spark: SparkSession): Dataset[SessionAssignment] = {
    import spark.implicits._
    events
      .select(
        col("event_id"),
        col("user_id"),
        col("ts").cast("long").as("tsSec")
      )
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = rows.toSeq.sortBy(e => (e.tsSec, e.event_id)).map { e =>
            val newSession = st.lastTsSec == Long.MinValue || e.tsSec - st.lastTsSec > 1800
            st = SessionState(if (newSession) st.sessionSeq + 1 else st.sessionSeq, e.tsSec)
            SessionAssignment(e.event_id, e.user_id, st.sessionSeq)
          }
          state.update(st)
          out.iterator
        }
      )
  }

  case class SessionSummary(
      user_id: Long,
      session_seq: Long,
      start_sec: Long,
      end_sec: Long,
      n_events: Long
  )
  case class OpenSession(sessionSeq: Long, startSec: Long, lastSec: Long, n: Long)

  /** Carries the watermarked timestamp COLUMN through to the state
    * operator — EventTimeTimeout requires it in the child plan, so the
    * epoch-seconds view is derived inside the state function instead of
    * in a projection that would drop the watermark tag.
    */
  case class SessionEventTs(event_id: Long, user_id: Long, ts: java.sql.Timestamp)

  /** Closed-session emission with EventTimeTimeout: sessions end either
    * because a later event of the same user arrives past the 30-minute
    * gap (closed inline) or because the WATERMARK passes the session's
    * idle deadline (closed by the state-store timeout — the piece
    * [[sessionize]]'s NoTimeout variant can't do: reaping idle users
    * without waiting for their next event). State per user is one small
    * struct; the watermark bounds both state size and timeout latency.
    */
  def sessionWindows(
      events: DataFrame
  )(implicit spark: SparkSession): Dataset[SessionSummary] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[SessionEventTs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rowsTs: Iterator[SessionEventTs], state: GroupState[OpenSession]) => {
          val rows = rowsTs.map(e =>
            SessionEvent(e.event_id, e.user_id, Math.floorDiv(e.ts.getTime, 1000L))
          )
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(SessionSummary(uid, st.sessionSeq, st.startSec, st.lastSec, st.n))
          } else {
            val out = scala.collection.mutable.ListBuffer.empty[SessionSummary]
            var open = state.getOption
            rows.toSeq.sortBy(e => (e.tsSec, e.event_id)).foreach { e =>
              open = open match {
                case Some(st) if e.tsSec - st.lastSec > 1800 =>
                  out += SessionSummary(uid, st.sessionSeq, st.startSec, st.lastSec, st.n)
                  Some(OpenSession(st.sessionSeq + 1, e.tsSec, e.tsSec, 1))
                case Some(st) =>
                  Some(st.copy(lastSec = e.tsSec, n = st.n + 1))
                case None =>
                  Some(OpenSession(1L, e.tsSec, e.tsSec, 1))
              }
            }
            open.foreach { st =>
              state.update(st)
              // Idle deadline: 30 min past the last event, in event time.
              state.setTimeoutTimestamp((st.lastSec + 1800) * 1000)
            }
            out.iterator
          }
        }
      )
  }

  /** Streaming exact deduplication (ingest-time dedup for a training
    * corpus): drops re-deliveries of the same key while the watermark
    * allows them to still arrive; state for keys older than the
    * watermark is reaped, so state size is bounded by the late-data
    * horizon instead of growing with the stream.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream interval join (the streaming twin of the batch
    * bucketed range join): purchases joined to the clicks of the
    * trailing 10 minutes. Structured Streaming REFUSES a stream-stream
    * join without an equality predicate ("not supported") — the
    * [[graft.operators.RangeJoin]] bucket construction supplies one:
    * purchase intervals explode into covering 15-minute buckets, clicks
    * hash to their single bucket, and the join keys on the bucket with
    * the exact interval as the residual predicate. Watermarks on both
    * time columns plus the two-sided time condition keep the join state
    * bounded to the late-data horizon.
    */
  def intervalJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withColumn(
        "p_bucket",
        explode(
          sequence(
            floor((unix_seconds(col("p_ts")) - 600) / 900),
            floor(unix_seconds(col("p_ts")) / 900)
          )
        )
      )
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withColumn("c_bucket", floor(unix_seconds(col("c_ts")) / 900))
    p.join(
      c,
      expr(
        "p_bucket = c_bucket AND c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts <= p_ts"
      )
    ).drop("p_bucket", "c_bucket")
  }

  /** Stream-static enrichment: each streaming event picks up its
    * dimension attributes from a static (batch) table keyed by
    * `user_id`. Stateless — no watermark or state store involved; the
    * static side is re-resolved every micro-batch (so a dim table
    * refreshed on disk is picked up live) and Catalyst broadcasts it
    * under the auto threshold — no forced hint, AQE keeps the choice
    * honest when the dim outgrows it.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, Seq("user_id"), "left")

  /** Streaming materialized rollup: every micro-batch folds its
    * per-event-type value sums into the persistent rollup state via
    * [[graft.operators.Maintenance.refreshAggregate]], keyed by the
    * `foreachBatch` batchId ([[drain]]'s exactly-once contract).
    */
  def incrementalRollup(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    // Not a drain: the default trigger keeps the rollup running once caught up.
    readEvents(spark, rawDir).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Maintenance.refreshAggregate(
          spark,
          batch.select(col("event_type"), floor(col("value") * 100).cast("long").as("cents")),
          Seq("event_type"),
          Seq("cents"),
          statePath,
          appliedId = Some(batchId)
        )
        ()
      })
      .start()

  /** One micro-batch of the streaming dedup ingest loop, exactly-once
    * by construction: every effect is an OVERWRITE of a batch-keyed
    * partition directory, and the accepted set is recomputed against
    * the index EXCLUDING this batch's own partition — so a retry after
    * a crash at ANY point (corpus written / index written / neither)
    * recomputes the identical accepted set and overwrites both
    * partitions to the identical state. No marker file needed; the
    * batch id IS the idempotence key.
    *
    * Corpus layout: `corpusPath/ingest_batch=<id>/...` (accepted docs);
    * index layout: `indexPath/ingest_batch=<id>/...` (one `__h` row per
    * accepted content hash). Both read back as ordinary partitioned
    * parquet. Returns the number of accepted documents.
    */
  def dedupIngestBatch(
      spark: SparkSession,
      batch: DataFrame,
      corpusPath: String,
      indexPath: String,
      batchId: Long,
      maxIndexParts: Int = 64
  ): Long = {
    val root = graft.operators.DurableRoot.leaseOnly(spark, indexPath, "dedupIngestBatch")
    // Single-writer fence (r16): two concurrent drains on one index
    // both probe pre-batch state and both accept a shared duplicate —
    // the silent double-accept the operator exists to prevent. Token
    // keyed by the batch id: foreachBatch's crash replay carries the
    // same id and re-enters its own stale lease (the batch-keyed
    // writes below are overwrite-convergent under it).
    root.write(graft.operators.DurableRoot.leaseToken(Some(batchId))) {
    val hashed = batch.withColumn("__h", md5(col("text")))
    val indexExists = root.fs.exists(new org.apache.hadoop.fs.Path(indexPath))
    val fresh =
      if (indexExists) {
        val prior = Parquet.read(spark, indexPath)
          .filter(col("ingest_batch").cast("long") =!= batchId)
          .select("__h")
        hashed.join(prior, Seq("__h"), "left_anti")
      } else hashed
    // Settle the accepted set BEFORE any effect so the two writes see
    // the same rows even though the index is mutating underneath.
    val accepted = graft.operators.Maintenance.labeledJobs(spark, "dedup_ingest: settle accepted") {
      graft.operators.Dedup.dedupExact(fresh, "doc_id", "text").localCheckpoint()
    }
    // The corpus partition and the index partition are independent
    // batch-keyed overwrites off the same pin — write them on two
    // driver threads so the second's tasks back-fill the first's tail
    // (still crash-convergent: a replay re-overwrites both partitions
    // whatever subset a crash left behind).
    // The accepted count rides the corpus write as an Observation —
    // every accepted row already flows through that action, so the
    // old trailing `accepted.count()` job is pure duplication.
    val obs = org.apache.spark.sql.Observation()
    graft.operators.Overlap.both {
      graft.operators.Maintenance.labeledJobs(spark, "dedup_ingest: corpus write (overlapped)") {
        accepted
          .drop("__h")
          .observe(obs, count(lit(1)).as("n"))
          .write
          .mode("overwrite")
          .parquet(s"$corpusPath/ingest_batch=$batchId")
      }
    } { _ =>
      graft.operators.Maintenance.labeledJobs(spark, "dedup_ingest: index write") {
        accepted
          .select(col("__h"))
          .distinct()
          .write
          .mode("overwrite")
          .parquet(s"$indexPath/ingest_batch=$batchId")
      }
    }
    if (maxIndexParts > 0) compactIngestIndex(spark, indexPath, batchId, maxIndexParts)
    obs.get("n").asInstanceOf[Long]
    } // root.write
  }

  /** Size-TIERED self-compaction for the batch-keyed ingest index:
    * when more than `maxIndexParts` partition dirs have accumulated
    * (one per batch, forever — after 10⁴ crawl batches every probe
    * pays 10⁴ dir opens), merge every partition EXCEPT (a) the
    * in-flight batch's and (b) the SETTLED ones — partitions larger
    * than the sum of all smaller candidates (the span state's LSM
    * peel) — into one partition under a fresh NEGATIVE id. Settled
    * partitions are prior merge outputs (and any genuinely large
    * batch): re-merging them every trigger is what made the old
    * policy's amortized write O(index/maxIndexParts) — GROWING with
    * crawl age (~25 GB/batch at a 100 TB corpus). With the peel, a
    * byte is rewritten only when the accumulated smaller partitions
    * rival it: amortized O(batch · log(index/batch)) per batch,
    * corpus-size-independent, and the settled count is O(log index),
    * so the probe's partition fan-out stays bounded.
    *
    * The exclusions keep the exactly-once contract intact:
    *
    *  - the in-flight batch keeps its own `ingest_batch=<id>` dir, so a
    *    crash/retry of THAT batch still sees its own partition excluded
    *    from the probe and overwrites it idempotently (only the latest
    *    batch can ever replay — the streaming checkpoint/applied-id
    *    machinery has already sealed older ones);
    *  - each merged id is more negative than ANY existing id (settled
    *    merge outputs included), so it can never collide with a real
    *    batch id (≥ 0), an earlier merge's id, nor be excluded by any
    *    replay's own-partition filter — merged hashes are permanently
    *    "prior" for every future probe, which is semantically exact:
    *    the probe is a set-membership anti-join and a merged
    *    partition holds the distinct union of its inputs.
    *
    * Crash-safe with no marker: the merged partition is renamed IN
    * before any victim is deleted, so every crash point leaves the hash
    * SET intact (duplicates across partitions are harmless to an
    * anti-join); a half-deleted victim set is swept by the next
    * trigger, and a stale tmp is pre-commit garbage, dropped on entry.
    * One listing per call, plus one content-summary call per CANDIDATE
    * partition for the peel — bounded by `maxIndexParts`+1 and paid
    * only when the threshold trips, a compaction-schedule cost, never
    * a per-batch one.
    */
  def compactIngestIndex(
      spark: SparkSession,
      indexPath: String,
      keepBatchId: Long,
      maxIndexParts: Int
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val parts = fs
      .listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_batch="))
      .map(st => st.getPath -> st.getPath.getName.stripPrefix("ingest_batch=").toLong)
    if (parts.length <= maxIndexParts) return
    val candidates = parts
      .filter(_._2 != keepBatchId)
      .map { case (p, id) => (p, id, fs.getContentSummary(p).getLength) }
    // Peel the settled head (strictly larger than the sum of all
    // smaller candidates): rewriting those now buys nothing — their
    // bytes dominate the merge, and the count they contribute is
    // already O(log index).
    var tail = candidates.toList.sortBy(-_._3)
    while (tail.nonEmpty && tail.head._3 > tail.tail.map(_._3).sum) tail = tail.tail
    val victims = tail
    if (victims.length < 2) return
    val mergedId = math.min(parts.map(_._2).min, 0L) - 1L
    val bytes = victims.map(_._3).sum
    val tmp = new org.apache.hadoop.fs.Path(s"$indexPath/.__index_compact_tmp")
    graft.operators.Maintenance.deleteOrFail(fs, tmp)
    spark.read
      .parquet(victims.map(_._1.toString).toIndexedSeq: _*)
      .select("__h")
      .distinct()
      .coalesce(math.max(1L, (bytes + (128L * 1024 * 1024) - 1) / (128L * 1024 * 1024)).toInt)
      .write
      .parquet(tmp.toString)
    graft.operators.Maintenance
      .renameOrFail(fs, tmp, new org.apache.hadoop.fs.Path(s"$indexPath/ingest_batch=$mergedId"))
    victims.foreach { case (p, _, _) => graft.operators.Maintenance.deleteOrFail(fs, p) }
  }

  /** Streaming exact-dedup ingest: each arriving documents file is
    * deduped against everything ever accepted (cross-snapshot
    * content-hash index) and appended to the corpus — the 100 TB ingest
    * loop as an engine-managed stream (exactly-once file tracking +
    * idempotent batch-keyed partition overwrites).
    */
  def dedupIngest(
      spark: SparkSession,
      rawDir: String,
      corpusPath: String,
      indexPath: String,
      checkpoint: String,
      docsSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docsSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      dedupIngestBatch(spark, batch, corpusPath, indexPath, batchId)
    }

  /** Streaming distinct-cardinality telemetry: each arriving documents
    * file folds its per-language token sketches into the persistent
    * [[graft.operators.Maintenance.refreshCardinality]] HLL state
    * under [[drain]]'s contract (the sketch union is idempotent by
    * algebra besides). The state answers "distinct tokens ever seen
    * per language" at any moment for a few KB per key — corpus-growth
    * telemetry that would otherwise need a full rescan per refresh.
    */
  def cardinalityIngest(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      docsSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docsSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      val inst = batch.select(
        col("lang"),
        explode(split(col("text"), "\\s+")).as("token")
      )
      graft.operators.Maintenance
        .refreshCardinality(spark, inst, Seq("lang"), "token", statePath, Some(batchId))
    }

  /** Streaming preference-pair maintenance: each arriving scored-
    * response file (`prompt_id`, `doc_id`, `score` rows — an RLHF
    * campaign's sampling runs landing as they finish) folds its
    * per-prompt extremes into the persistent
    * [[graft.operators.Preference.pairIngest]] state under [[drain]]'s
    * contract (the max/min fold is idempotent by algebra besides). The
    * state answers "current DPO pair table" at any moment
    * ([[graft.operators.Preference.pairsFromState]]) without
    * re-aggregating the campaign's accumulated responses.
    */
  def prefIngest(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      respSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(respSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      graft.operators.Preference
        .pairIngest(spark, batch, "prompt_id", "doc_id", "score", statePath, Some(batchId))
    }

  /** Streaming arena-board maintenance: each arriving scored-response
    * file (`prompt_id`, `policy`, `score` rows — checkpoint sampling
    * runs landing as they finish) folds its per-(prompt, policy) best
    * scores into the persistent [[graft.operators.Preference.winIngest]]
    * state under [[drain]]'s contract (the max fold is idempotent by
    * algebra besides). The state answers "current head-to-head win
    * matrix" at any moment
    * ([[graft.operators.Preference.winMatrixFromState]]) without
    * re-aggregating the campaign's accumulated responses — completing
    * the arena family's batch (q160) / incremental (q161) / STREAMING
    * triad, exactly as [[prefIngest]] completed pairs.
    */
  def winIngest(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      respSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(respSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      graft.operators.Preference
        .winIngest(spark, batch, "prompt_id", "policy", "score", statePath, Some(batchId))
    }

  /** Streaming tree-membership maintenance: each arriving turn-batch
    * file (`conv_id`, `turn_id`, `parent_id` rows — a live turn store
    * landing appends as conversations grow) folds into the persistent
    * [[graft.operators.TreeState]] membership state under [[drain]]'s
    * contract (the same rows under a NEW id are refused by the state's
    * key-collision gate, so mis-delivery fails loudly instead of
    * double-pathing). Files must land in CAUSAL order: a turn's parent
    * must be in the state or its own batch, the fold's orphan gate
    * enforces it. The state answers "current root→leaf path
    * memberships" at any moment
    * ([[graft.operators.TreeState.memberships]], served by
    * `tree_render --paths_state` / `branch_pairs --paths_state`)
    * without re-running the pointer-doubling closure over the store.
    */
  def turnsIngest(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      turnSchema: StructType,
      maxDepth: Int = 10000,
      maxConvRows: Int = 2000000
  ): org.apache.spark.sql.streaming.StreamingQuery =
    turnsIngestWith(spark, rawDir, statePath, checkpoint, turnSchema, maxDepth,
      filesPerTrigger = Some(1), maxConvRows = maxConvRows)

  /** Cold-start BACKFILL for [[turnsIngest]]: fold the ENTIRE existing
    * file backlog as ONE batch (one applied id, one fold), sharing the
    * steady-state stream's checkpoint — a subsequent [[turnsIngest]]
    * drain on the same checkpoint resumes past the backfilled files
    * with nothing lost or double-folded (the source's seen-file log
    * already covers them). The file-=-batch contract is a steady-state
    * discipline (per-file applied ids, per-file causal order); under
    * it a cold start over N accumulated files pays N serial folds at
    * the per-fold floor — linear in files, not data. The backfill is
    * the deliberate batch-shaped exception: causal order ACROSS the
    * backlog's files implies the union is itself a valid causal batch
    * (every parent is in an earlier file or its own ⇒ in the union),
    * so one fold of the union is the from-scratch semantics at one
    * fold's cost. Duplicate (conv, turn) keys across backlog files
    * are refused by the fold's in-batch dup gate — the same rows
    * would also have been refused file-by-file (as state collisions).
    */
  def turnsBackfill(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      turnSchema: StructType,
      maxDepth: Int = 10000,
      maxConvRows: Int = 2000000
  ): org.apache.spark.sql.streaming.StreamingQuery =
    turnsIngestWith(spark, rawDir, statePath, checkpoint, turnSchema, maxDepth,
      filesPerTrigger = None, maxConvRows = maxConvRows)

  private def turnsIngestWith(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      checkpoint: String,
      turnSchema: StructType,
      maxDepth: Int,
      filesPerTrigger: Option[Int],
      // threaded into TreeState.fold (r16): the guard's unit is
      // buffered WALK rows (state memberships ≈ paths × depth + batch
      // turns), and a legitimately bushy conversation can exceed the
      // default from far fewer turns — a stream must be raisable
      // without abandoning its checkpoint
      maxConvRows: Int = 2000000
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(turnSchema)
    // ENFORCE the documented file-=-batch contract on the steady-state
    // arm: one arriving turn file = one micro-batch = one fold with
    // its own applied id. Without the cap, AvailableNow packs a
    // multi-file backlog into however many micro-batches the rate
    // planner picks — the batch=file mapping (and the per-file
    // causal-order contract) held only by luck of file sizes. The
    // BACKFILL arm drops the cap deliberately: whole backlog, one
    // batch, one fold (see turnsBackfill).
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    drain(reader.json(rawDir), checkpoint) { (batch, batchId) =>
      // pin the micro-batch ONCE: the fold issues several actions
      // (gates, the conv-partitioned walk, stitches) and each would
      // otherwise re-plan and re-read the streaming file source —
      // measured 63 s/wave at a 6.5k-row wave before the pin
      graft.operators.TreeState.fold(
        spark, batch.localCheckpoint(), "conv_id", "turn_id", "parent_id",
        statePath, Some(batchId), maxDepth, maxConvRows = maxConvRows)
    }
  }

  /** Streaming NEAR-dup monitoring: each arriving documents file probes
    * the corpus-wide MinHash index ([[graft.operators.NearDupIndex]])
    * and appends detected near-dup pairs to a telemetry sink before the
    * batch's signatures join the index. Index appends are idempotent
    * (anti-join on doc_id inside `update`), so a replayed file cannot
    * double-index; the pair sink is additive telemetry, partitioned by
    * batch so a replay overwrites its own partition rather than
    * appending duplicates.
    */
  def nearDupIngest(
      spark: SparkSession,
      rawDir: String,
      indexPath: String,
      pairsPath: String,
      checkpoint: String,
      docsSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docsSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      // batchId as the lease's applied id: a crashed batch's replay
      // carries the same id and re-enters its stale writer lease
      graft.operators.NearDupIndex
        .update(spark, batch, indexPath, appliedId = Some(batchId))
        .write
        .mode("overwrite")
        .parquet(s"$pairsPath/ingest_batch=$batchId")
    }

  /** One batch of streaming SEMANTIC dedup (SemDeDup at ingest): drop
    * every batch vector with an indexed neighbor at cosine ≥ `minCos`
    * ([[graft.operators.VectorIndex.probePairs]] — partition-pruned,
    * excludes the batch's own vec_ids so a replay probes the pre-batch
    * index), resolve within-batch duplicates by pairing inside the
    * INDEX's cluster blocking (the frozen quantizer is the natural
    * SemDeDup blocking here; a per-file batch is bounded, so the
    * intra-batch Σ cluster² is too), append the survivors to the index
    * (idempotent by vec_id), and overwrite the batch's telemetry
    * partition with the dropped pairs — `dup_of` is the strongest
    * indexed neighbor, or for within-batch drops the strongest
    * SMALLER-ID batch near-neighbor. NB the latter is the greedy
    * pairwise rule (same as q32): in a chain a~b~c with a≁c, c's
    * `dup_of` is b, which itself dropped to a — `dup_of` names the
    * nearest cause, not the transitive surviving representative.
    * `resolveSurvivors = true` adds a `survivor` column with exactly
    * that representative: `dup_of` followed through the batch's drop
    * chain until it names a row that was actually kept (an indexed
    * vector or an accepted batch row). The chain is acyclic — every
    * hop strictly decreases the id — and batch-bounded, so resolution
    * is a few keyed joins over the pinned drop table (one round per
    * longest-chain hop; chains are near-always length ≤ 2). The flag
    * is part of the TELEMETRY SCHEMA: keep it stable for the lifetime
    * of a `dropsPath` — toggling it mid-stream writes partitions with
    * and without the `survivor` column under one dataset, and a plain
    * read then resolves an arbitrary footer's schema (read such mixed
    * telemetry with `mergeSchema=true`, or point a new dropsPath).
    *
    * Exactly-once acceptance: every step is deterministic given the
    * pre-batch index, the probe cannot see the batch's own appended
    * rows, the append anti-joins already-indexed ids, and both sinks
    * are batch-keyed overwrites — so a replay after a crash at ANY
    * point converges to identical index and telemetry.
    *
    * Contract: the index (its coarse quantizer) is built beforehand —
    * the frozen-quantizer IVF append model. Returns accepted count.
    */
  def semanticDedupIngestBatch(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      dropsPath: String,
      batchId: Long,
      minCos: Double = 0.995,
      resolveSurvivors: Boolean = false
  ): Long = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.GraftFunctions.graft_dot(a, b)
    val v = batch.select(col("vec_id"), col("emb"))
    // Each intermediate below is PINNED (localCheckpoint) before the
    // next step consumes it: every set is bounded by the batch size,
    // each subtree executes exactly once per batch instead of once per
    // downstream action, and the settle-before-effect rule is
    // structural — the telemetry written after the index append cannot
    // re-probe the mutated index, because it reads the pinned rows.
    // ONE assignment pass (argmax + centroid read) serves the index
    // probe, the within-batch pairing, AND the survivor append.
    val assigned = graft.operators.VectorIndex.assignBatch(spark, v, indexPath).localCheckpoint()
    val indexDrops = graft.operators.VectorIndex
      .probePairsAssigned(spark, assigned, indexPath, minCos)
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("dup_of"), struct(col("cosine"), -col("dup_of"))).as("dup_of"),
        max(col("cosine")).as("cosine")
      )
      .localCheckpoint()
    val fresh = assigned.join(indexDrops.select("vec_id"), Seq("vec_id"), "left_anti")
    val aSide = fresh.select(col("cluster"), col("vec_id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val bSide = fresh.select(col("cluster"), col("vec_id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val batchDrops = aSide
      .join(bSide, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= minCos)
      .groupBy(col("id_b"))
      .agg(
        max_by(col("id_a"), struct(col("cosine"), -col("id_a"))).as("dup_of"),
        max(col("cosine")).as("cosine")
      )
      .select(col("id_b").as("vec_id"), col("dup_of"), col("cosine"))
      .localCheckpoint()
    val accepted = fresh.join(batchDrops.select("vec_id"), Seq("vec_id"), "left_anti")
    // The index append reads only the three pins above; the telemetry
    // write below reads only indexDrops/batchDrops (pinned — it cannot
    // re-probe the mutated index). Independent effects: run the append
    // on a second driver thread so the telemetry write (and the
    // resolve chase, when enabled) back-fills its tail.
    graft.operators.Overlap.both {
      graft.operators.VectorIndex.appendAssigned(spark, accepted, indexPath)
    } { _ =>
      val telemetry0 = indexDrops
        .select(col("vec_id"), col("dup_of"), col("cosine"))
        .unionByName(batchDrops)
      val telemetry =
        if (!resolveSurvivors) telemetry0
        else {
          // Pointer-chase dup_of through the within-batch drop chain.
          // Index drops are already terminal (their dup_of is an indexed
          // survivor), so the mapping is batchDrops alone; the id-strictly-
          // decreases invariant makes it acyclic and the loop terminate.
          val m = batchDrops
            .select(col("vec_id").as("s_from"), col("dup_of").as("s_to"))
            .localCheckpoint()
          var t = telemetry0.withColumn("survivor", col("dup_of")).localCheckpoint()
          var hop = true
          while (hop) {
            val stepped = t
              .join(m, t("survivor") === m("s_from"), "left")
              .select(
                col("vec_id"),
                col("dup_of"),
                col("cosine"),
                coalesce(col("s_to"), col("survivor")).as("survivor")
              )
              .localCheckpoint()
            // 1-row probe, not a collect of the table: one more round only
            // while some survivor still names a dropped row.
            hop = stepped.join(m, stepped("survivor") === m("s_from"), "left_semi").count() > 0
            t = stepped
          }
          t
        }
      telemetry.write
        .mode("overwrite")
        .parquet(s"$dropsPath/ingest_batch=$batchId")
    }
    accepted.count()
  }

  /** One batch of streaming SPAN-level dedup: the batch's documents are
    * probed against the persistent span-hash state
    * ([[graft.operators.Maintenance.incrementalDupSpans]] — the
    * within-batch min≠max rule plus other-doc-attributed state rows),
    * the batch's duplicated extents land as a batch-keyed telemetry
    * overwrite, and the batch's hashes fold into the state under the
    * batch-id marker. Replay-safe end to end: a replayed batch
    * recomputes IDENTICAL extents against the post-fold state (the
    * probe excludes self-attributed hashes) while the fold no-ops on
    * its marker — or, after a crash that lost the marker, idempotently
    * re-overwrites its own appended `seg=b<id>` segments with the same
    * content — so the overwrite converges under any crash/retry. An
    * empty micro-batch writes its (empty) telemetry partition and never
    * touches the state — idle trigger firings must not rewrite a
    * corpus-scale hash table. Returns the number of extent rows.
    */
  def spanDedupIngestBatch(
      spark: SparkSession,
      batch: DataFrame,
      statePath: String,
      extentsPath: String,
      batchId: Long,
      minTokens: Int = 5
  ): Long = {
    val part = s"$extentsPath/ingest_batch=$batchId"
    if (batch.isEmpty) {
      import spark.implicits._
      Seq
        .empty[(Long, Int, Int, Long)]
        .toDF("doc_id", "start_pos", "end_pos", "n_tokens")
        .write
        .mode("overwrite")
        .parquet(part)
      return 0L
    }
    val ext = graft.operators.Maintenance
      .incrementalDupSpans(spark, batch, "doc_id", "text", statePath, Some(batchId), minTokens)
    // `ext` is pinned inside incrementalDupSpans — the write and the
    // count read the settled rows, not a recompute.
    ext.write.mode("overwrite").parquet(part)
    ext.count()
  }

  /** Streaming span-level dedup ingest: each arriving documents file
    * gets its duplicated-span extents against the persistent span-hash
    * state and folds its hashes in — the SUBSTRING-level member of the
    * ingest dedup family (exact [[dedupIngest]] / MinHash
    * [[nearDupIngest]] / semantic [[semanticDedupIngest]] / span),
    * feeding a span cleaner instead of dropping whole docs.
    */
  def spanDedupIngest(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      extentsPath: String,
      checkpoint: String,
      docSchema: StructType,
      minTokens: Int = 5
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      spanDedupIngestBatch(
        spark,
        batch.select(col("doc_id"), col("text")),
        statePath,
        extentsPath,
        batchId,
        minTokens
      )
    }

  /** Streaming CURATION: each arriving documents file runs the full
    * incremental curation composition
    * ([[graft.pipeline.Pipeline.curateIngest]] — frozen-LM gate → span
    * clean vs the durable span-hash state → min-token floor →
    * cross-batch exact dedup), with the batch id keying every stage
    * ([[drain]]'s contract). The capstone of the ingest family: where
    * dedupIngest/nearDupIngest/semanticDedupIngest/spanDedupIngest
    * each maintain ONE durable index, this maintains all the curation
    * state and emits training-ready batches. The quality model
    * retrains OUTSIDE the stream
    * (`build_quality_model` on a schedule) — the stream only reads it.
    */
  def curateIngestStream(
      spark: SparkSession,
      rawDir: String,
      modelPath: String,
      spanStatePath: String,
      dedupIndexPath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType,
      minKeepTokens: Int = 1
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      // An idle trigger firing curates nothing and must touch
      // nothing — every stage's state stays as-is and no empty
      // output partition is written.
      if (!batch.isEmpty)
        graft.pipeline.Pipeline.curateIngest(
          spark,
          batch.select(col("doc_id"), col("text")),
          modelPath,
          spanStatePath,
          dedupIndexPath,
          outDir,
          batchId,
          minKeepTokens
        )
    }

  /** Streaming incremental packing: each arriving document file is laid
    * out after everything already packed
    * ([[graft.operators.Packing.packIngest]] keyed by the batch id,
    * [[drain]]'s contract), its manifest written batch-keyed. Emitted
    * pack ids never move, so a training loader can tail `outDir` and
    * consume packs while the crawl still ingests. Idle trigger firings
    * touch nothing (no state row, no output partition). Typically fed
    * by `curate_stream`'s accepted output — curation emits clean docs,
    * packing turns them into training sequences.
    *
    * With `groupCol` the packing is MIXTURE-STRATIFIED: every source's
    * pack space grows append-only independently (per-domain offset
    * state), so a training schedule can draw pack counts per domain
    * while the crawl still ingests; replay of a batch reuses its
    * recorded per-domain bases.
    */
  def packIngestStream(
      spark: SparkSession,
      rawDir: String,
      statePath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType,
      budget: Long = 2048L,
      nShards: Int = 8,
      groupCol: Option[String] = None
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(
      packBatch(spark, statePath, outDir, budget, nShards, groupCol))

  /** [[packIngestStream]]'s and [[packCuratedStream]]'s batch body. */
  private def packBatch(
      spark: SparkSession,
      statePath: String,
      outDir: String,
      budget: Long,
      nShards: Int,
      groupCol: Option[String] = None
  ): (DataFrame, Long) => Unit =
    batchKeyed(outDir, "pack") { (batch, batchId) =>
      graft.operators.Packing
        .packIngest(
          spark,
          batch.select((("doc_id" +: groupCol.toSeq) :+ "text").map(col): _*),
          "doc_id",
          "text",
          statePath,
          batchId,
          budget,
          nShards,
          groupCol = groupCol
        )
    }

  /** Streaming fertility-drift telemetry — the production form of the
    * q123 monitor: per arriving document file, per-source whitespace vs
    * frozen-model token totals appended as batch-keyed telemetry rows
    * (the feed a crawl operator dashboards to see WHICH domain's text
    * is drifting away from the tokenizer's training distribution). The
    * merge table is resolved ONCE at stream start from the versioned
    * `build_bpe_model` pointer — serving posture: a monitor never
    * retrains mid-stream, so fertility is comparable across the whole
    * run (a retrain shows up as the next run's pointer version).
    * Batch-keyed overwrite partitions ([[drain]]'s contract); an idle
    * trigger firing writes nothing. Per-batch cost is
    * [[graft.operators.Bpe.segmentCounts]]'s: the merge fold over the
    * batch's DISTINCT words + one join back + a per-source agg —
    * O(batch), no state beyond the checkpoint.
    */
  def fertilityStream(
      spark: SparkSession,
      rawDir: String,
      modelPath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val merges = graft.operators.Bpe.loadMerges(spark, modelPath)
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(batchKeyed(outDir, "ingest") { (batch, _) =>
      graft.operators.Bpe
        .segmentCounts(batch.select(col("doc_id"), col("text")), "doc_id", "text", merges)
        .join(batch.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_ws"),
          sum(col("n_bpe_tokens")).as("sum_bpe")
        )
        .withColumn("fert_milli", expr("(1000 * sum_bpe) div sum_ws"))
    })
  }

  /** Streaming decontamination — the eval-set member of the ingest
    * gate family (exact / LSH / semantic / span dedup guard the corpus
    * against ITSELF; this guards it against a held-out benchmark): per
    * arriving document file, the
    * [[graft.operators.Dedup.decontamPurgeAgainst]] overlap report as
    * a batch-keyed telemetry partition (`ingest_batch=N` overwrite,
    * [[drain]]'s contract). The eval shingle set is resolved ONCE at
    * stream start and PINNED (`localCheckpoint`) — a benchmark doesn't
    * change mid-run, and pinning means each micro-batch pays only its
    * own explode + broadcast probe, never a re-derivation of the eval
    * side. Idle firings write nothing.
    */
  def decontamStream(
      spark: SparkSession,
      rawDir: String,
      evalPath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType,
      threshold: Double = 0.5
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val evalSet = graft.operators.Dedup
      .evalShingles(Parquet.read(spark, evalPath), "text")
      .localCheckpoint()
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(batchKeyed(outDir, "ingest") { (batch, _) =>
      graft.operators.Dedup
        .decontamPurgeAgainst(
          batch.select(col("doc_id"), col("text")),
          evalSet,
          "doc_id",
          "text",
          threshold
        )
    })
  }

  /** Streaming FUZZY decontamination — the pair-attributed member of
    * the ingest-gate family: per arriving document file, the
    * [[graft.operators.Dedup.decontamFuzzyPinned]] near-dup report
    * (LSH-candidate eval items, verified whole-set Jaccard, verdict)
    * as a batch-keyed telemetry partition, as in [[decontamStream]].
    * The eval SHINGLE TABLE is resolved once at stream start and
    * pinned; each micro-batch derives its own bands map-side and probes
    * the pinned benchmark — the eval side is never re-read or
    * re-shingled per batch.
    */
  def decontamFuzzyStream(
      spark: SparkSession,
      rawDir: String,
      evalPath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType,
      threshold: Double = 0.5,
      nHashes: Int = 16,
      bandRows: Int = 4
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val evalSets = graft.operators.Dedup
      .shingleSets(Parquet.read(spark, evalPath), "doc_id", "text")
      .localCheckpoint()
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(batchKeyed(outDir, "ingest") { (batch, _) =>
      graft.operators.Dedup
        .decontamFuzzyPinned(
          graft.operators.Dedup
            .shingleSets(batch.select(col("doc_id"), col("text")), "doc_id", "text"),
          evalSets,
          "doc_id",
          threshold,
          nHashes,
          bandRows
        )
    })
  }

  /** Streaming SEMANTIC decontamination — the embedding tier's ingest
    * gate: per arriving embedding file (`{"vec_id","embedding"}`
    * JSON), each vector's best-cosine eval match and verdict as
    * batch-keyed telemetry, as in the other gates. The eval matrix is
    * collected ONCE at stream start into the probe closure
    * ([[graft.operators.Dedup.semanticProbe]]) — micro-batches rerun
    * only their own compiled argmax loop, never the eval collect.
    */
  def decontamSemanticStream(
      spark: SparkSession,
      rawDir: String,
      evalPath: String,
      outDir: String,
      checkpoint: String,
      threshold: Double = 0.5
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val probe = graft.operators.Dedup
      .semanticProbe(Parquet.read(spark, evalPath), "vec_id", "embedding", threshold)
    val source = spark.readStream.schema(graft.schemas.Schemas.embeddingIngest).json(rawDir)
    drain(source, checkpoint)(batchKeyed(outDir, "ingest") { (batch, _) =>
      probe(batch.select(col("vec_id"), col("embedding")))
    })
  }

  /** The curation→packing CHAIN consumer: tail a [[curateIngestStream]]
    * (or `curate_ingest` CLI) corpus' batch-keyed parquet partitions
    * and lay each newly accepted file out after everything already
    * packed — raw crawl files in, training-sequence manifests out,
    * with nothing in between but the two streams' checkpoints. Same
    * batch body as [[packIngestStream]]; only the source differs
    * (parquet file stream over `curatedDir/ingest_batch=*`,
    * schema-projected to (doc_id, text)).
    *
    * Operator discipline for the chain: the curator's exactly-once
    * contract allows its LATEST batch partition to be overwritten by a
    * crash replay (fresh part-file names) — a tailing file source that
    * already consumed the old names would re-read the batch under its
    * new ones, and packIngest would lay the docs out twice (it dedups
    * nothing; layout requires unique ids per ITS batch only, and the
    * re-read arrives as a new downstream batch). Run the consumer as
    * AvailableNow drains AFTER the curator's drain completes (the
    * spec's shape), or lag it one sealed batch behind a
    * continuously-running curator.
    */
  def packCuratedStream(
      spark: SparkSession,
      curatedDir: String,
      statePath: String,
      outDir: String,
      checkpoint: String,
      budget: Long = 2048L,
      nShards: Int = 8
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(
      spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(s"$curatedDir/ingest_batch=*"),
      checkpoint
    )(packBatch(spark, statePath, outDir, budget, nShards))

  /** Streaming semantic-dedup ingest: each arriving embeddings file is
    * SemDeDup'd against the persistent IVF index and within itself,
    * survivors join the index — the embedding twin of [[dedupIngest]]
    * (exact text) and [[nearDupIngest]] (MinHash text), completing the
    * ingest-side dedup family over the engine's durable indexes.
    */
  def semanticDedupIngest(
      spark: SparkSession,
      rawDir: String,
      indexPath: String,
      dropsPath: String,
      checkpoint: String,
      embSchema: StructType,
      minCos: Double = 0.995,
      resolveSurvivors: Boolean = false
  ): org.apache.spark.sql.streaming.StreamingQuery =
    drain(spark.readStream.schema(embSchema).json(rawDir), checkpoint) { (batch, batchId) =>
      semanticDedupIngestBatch(
        spark,
        batch.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
        indexPath,
        dropsPath,
        batchId,
        minCos,
        resolveSurvivors
      )
    }

  /** Incremental star-schema maintenance: the reference's per-file
    * users/time pipeline as a [[drain]] — every new file in `rawDir`
    * updates the tables (`Pipeline.runIncremental`'s writes), with
    * engine-managed file tracking.
    */
  def incrementalTables(
      spark: SparkSession,
      rawDir: String,
      outDir: String,
      checkpoint: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val logData = spark.readStream.schema(graft.schemas.Schemas.logData).json(rawDir)
    drain(logData, checkpoint) { (batch, _) =>
      graft.pipeline.Pipeline.writeUsersAndTime(
        graft.transforms.Transforms.nextSongEvents(batch),
        s"$outDir/",
        singleFileOutput = false,
        partitionTimeByMonth = false,
        dynamicPartitionOverwrite = false
      )
    }
  }

  /** Streaming chunking: each arriving document JSON file is split
    * into sliding token windows the moment it lands — whitespace
    * words, or FROZEN-BPE model tokens when `modelPath` is given (the
    * frozen-model serving discipline: the merge table is resolved
    * ONCE at stream start, so every batch of a drain chunks under one
    * tokenizer version) — landing as `out/chunk_batch=<batchId>`.
    * The out dir's `_space` sidecar ([[graft.operators.Chunking
    * .recordSpace]]) pins the token space + model version BEFORE the
    * stream starts: a later drain after a mid-campaign tokenizer
    * RETRAIN resolves a different version and is refused loudly
    * instead of silently mixing two coordinate systems in one chunk
    * table. Chunking is a pure per-row function of (batch, window,
    * stride, frozen merges), so [[drain]]'s replay rewrites
    * `chunk_batch=<id>` with identical bytes.
    */
  def chunkStream(
      spark: SparkSession,
      rawDir: String,
      modelPath: Option[String],
      outDir: String,
      checkpoint: String,
      docSchema: StructType,
      window: Long,
      stride: Long
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val space = modelPath match {
      case Some(m) =>
        val v = graft.operators.Bpe
          .currentVersion(spark, m)
          .getOrElse(
            sys.error(s"no frozen BPE model at $m (missing _current pointer) — " +
              "streaming chunking cannot guess a tokenizer")
          )
        s"bpe:v$v"
      case None => "ws"
    }
    graft.operators.Chunking.recordSpace(spark, outDir, space)
    // resolve the merges ONCE — every batch of this drain chunks
    // under the same frozen table
    val merges = modelPath.map(m => graft.operators.Bpe.loadMerges(spark, m))
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(batchKeyed(outDir, "chunk") { (batch, _) =>
      merges match {
        case Some(ms) =>
          graft.operators.Chunking.bpeChunks(batch, "doc_id", "text", ms, window, stride)
        case None =>
          graft.operators.Chunking.slidingChunks(batch, "doc_id", "text", window, stride)
      }
    })
  }

  /** Streaming DSIR scoring: each arriving document JSON file scores
    * against a FROZEN [[graft.operators.Importance]] weight table and
    * lands its per-doc scores as `out/score_batch=<batchId>` —
    * arriving crawl data gated by target-likeness the moment it
    * lands, without re-histogramming anything (the frozen-model
    * discipline, as with the frozen bigram-LM gate). The bucket
    * count comes from the weights' `_buckets` sidecar — REQUIRED
    * here: there is no interactive caller to catch a silent
    * mis-bucketing. Scoring is a pure function of (batch, frozen
    * weights), so [[drain]]'s replay rewrites `score_batch=<id>` with
    * identical bytes.
    */
  def dsirScore(
      spark: SparkSession,
      rawDir: String,
      weightsPath: String,
      outDir: String,
      checkpoint: String,
      docSchema: StructType
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val buckets = graft.operators.Importance
      .storedBuckets(spark, weightsPath)
      .getOrElse(
        sys.error(
          s"$weightsPath carries no _buckets sidecar: streaming scoring cannot " +
            "guess the hash modulus — freeze the weights with dsir_weights"
        )
      )
    val weights = Parquet.read(spark, weightsPath)
    drain(spark.readStream.schema(docSchema).json(rawDir), checkpoint)(batchKeyed(outDir, "score") { (batch, _) =>
      graft.operators.Importance.importanceScores(batch, "doc_id", "text", weights, buckets)
    })
  }
}
