package graft.pipeline

import graft.schemas.Schemas
import graft.transforms.Transforms._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Job surface matching the reference's two execution modes
  * (EP1 batch: `spark-jobs/sparkify_etl.py`; EP2/EP3 incremental:
  * `spark-jobs/sparkify_etl_1.py` / `_2.py`), expressed as a library +
  * CLI rather than Airflow orchestration.
  *
  * Paths are Hadoop-FS URIs — local paths in tests, `gs://` in prod; the
  * engine code is storage-agnostic.
  */
object Pipeline {

  /** Cluster rows by their partition value before a `partitionBy`
    * write: each hive partition is then produced by one task instead of
    * by EVERY task — at 100 TB that is #partitions output files versus
    * #tasks × #partitions small files (and a compaction job later). AQE
    * coalesces the clustering shuffle; if one partition is huge, salt
    * the repartition with a second column to split it.
    */
  private def clusteredBy(df: org.apache.spark.sql.DataFrame, c: String) =
    df.repartition(org.apache.spark.sql.functions.col(c))

  /** Full batch ETL (EP1): raw JSON under `input`, star-schema Parquet
    * under `output`.
    *
    * Keeps the reference's write-then-reread materialization barrier for
    * songs/artists: the fact table is built from the on-disk dimension
    * tables, decoupling stage outputs (reference `sparkify_etl.py:173-176`).
    */
  def runFullBatch(spark: SparkSession, input: String, output: String): Unit = {
    val songData = spark.read.schema(Schemas.songData).json(s"${input}song_data/*/*/*/*.json")

    clusteredBy(songsTable(songData), "year").write
      .mode("overwrite")
      .partitionBy("year")
      .parquet(s"${output}songs_table.parquet")

    artistsTable(songData).write
      .mode("overwrite")
      .parquet(s"${output}artists_table.parquet")

    val logData = spark.read.schema(Schemas.logData).json(s"${input}log_data/*/*/*.json")
    val events = nextSongEvents(logData)

    usersTable(events).write
      .mode("overwrite")
      .parquet(s"${output}users_table.parquet")

    val withTs = withStartTime(events)
    val time = timeTable(withTs)
    clusteredBy(time, "year").write
      .mode("overwrite")
      .partitionBy("year")
      .parquet(s"${output}time_table.parquet")

    // Materialization barrier: fact is built from on-disk dims.
    val songs = spark.read.parquet(s"${output}songs_table.parquet")
    val artists = spark.read.parquet(s"${output}artists_table.parquet")

    clusteredBy(songplaysTable(withTs, songs, artists, time), "year").write
      .mode("overwrite")
      .partitionBy("year")
      .parquet(s"${output}songplays_table.parquet")
  }

  /** Incremental per-file ETL (EP2/EP3): processes exactly one raw log
    * file, producing users + time tables only (reference
    * `sparkify_etl_1.py` / `_2.py`).
    *
    * @param singleFileOutput  `coalesce(1)` per table for single-part
    *                          loads (the `_2.py` variant). `coalesce`
    *                          (shuffle-free) rather than `repartition`,
    *                          as in the reference; at large scale prefer
    *                          `singleFileOutput=false` and let AQE size
    *                          output files.
    * @param partitionTimeByMonth hive `month=MM/` layout (the `_1.py` /
    *                          partition-aware load variant).
    * @param dynamicPartitionOverwrite replace only the month partitions
    *                          present in THIS file instead of the whole
    *                          table (the 100 TB incremental mode: the
    *                          reference's STATIC overwrite rewrites the
    *                          entire table every run, which does not
    *                          survive a large accumulated history).
    */
  def runIncremental(
      spark: SparkSession,
      rawFile: String,
      output: String,
      singleFileOutput: Boolean = true,
      partitionTimeByMonth: Boolean = false,
      dynamicPartitionOverwrite: Boolean = false,
      failFast: Boolean = false
  ): Unit = {
    val logData = spark.read
      .schema(Schemas.logData)
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .json(rawFile)
    writeUsersAndTime(
      nextSongEvents(logData),
      output,
      singleFileOutput,
      partitionTimeByMonth,
      dynamicPartitionOverwrite
    )
  }

  /** The EP2 users + time table writes over one batch of NextSong
    * events — [[runIncremental]]'s per-file run and
    * `StreamingPipeline.incrementalTables`' per-batch drain share them.
    * `output` ends with a path separator; the flags are
    * [[runIncremental]]'s.
    */
  private[graft] def writeUsersAndTime(
      events: DataFrame,
      output: String,
      singleFileOutput: Boolean,
      partitionTimeByMonth: Boolean,
      dynamicPartitionOverwrite: Boolean
  ): Unit = {
    val users = usersTable(events)
    val usersOut = if (singleFileOutput) users.coalesce(1) else users
    usersOut.write.mode("overwrite").parquet(s"${output}users_table.parquet")

    val time = timeTable(withStartTime(events))
    // At-scale month-partitioned mode clusters by the partition column
    // like the full-batch writes (one file per month, not per task);
    // singleFileOutput already collapses to one file and skips it.
    val timeOut =
      if (singleFileOutput) time.coalesce(1)
      else if (partitionTimeByMonth) clusteredBy(time, "month")
      else time
    val writer = timeOut.write
      .mode("overwrite")
      .option(
        "partitionOverwriteMode",
        if (dynamicPartitionOverwrite) "dynamic" else "static"
      )
    (if (partitionTimeByMonth) writer.partitionBy("month") else writer)
      .parquet(s"${output}time_table.parquet")
  }

  /** Incremental run with the reference DAG's failure path (reference
    * `dags/sparkify_dag.py:137-143`: a `TriggerRule.ONE_FAILED` task
    * moves the raw file out of `raw/` when the Spark job fails): any
    * exception quarantines the raw file under `${bucket}failed/` via a
    * Hadoop FS rename — a same-filesystem metadata move, no byte copy —
    * so the next scheduler tick doesn't re-feed a poisoned input.
    * Returns true on success, false when the file was quarantined.
    * Throws when the move itself fails (the file is still in `raw/`),
    * with the run's own failure attached as suppressed.
    */
  def runIncrementalQuarantined(
      spark: SparkSession,
      bucket: String,
      rawFileName: String,
      singleFileOutput: Boolean = true,
      partitionTimeByMonth: Boolean = false,
      dynamicPartitionOverwrite: Boolean = false,
      failFast: Boolean = false
  ): Boolean = {
    val rawPath = s"${bucket}raw/$rawFileName"
    try {
      runIncremental(
        spark,
        rawPath,
        s"${bucket}transformed/",
        singleFileOutput,
        partitionTimeByMonth,
        dynamicPartitionOverwrite,
        failFast
      )
      true
    } catch {
      case e: Throwable =>
        val src = new org.apache.hadoop.fs.Path(rawPath)
        val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val failedDir = new org.apache.hadoop.fs.Path(s"${bucket}failed/")
        try {
          if (!fs.mkdirs(failedDir)) throw new java.io.IOException(s"mkdirs failed: $failedDir")
          graft.operators.Maintenance.renameOrFail(fs, src, new org.apache.hadoop.fs.Path(failedDir, rawFileName))
        } catch {
          case q: Throwable =>
            q.addSuppressed(e)
            throw q
        }
        System.err.println(s"[pipeline] quarantined $rawFileName -> failed/: ${e.getMessage}")
        false
    }
  }

  /** Convenience: read one of the produced tables back. */
  def readTable(spark: SparkSession, output: String, name: String): DataFrame =
    spark.read.parquet(s"$output$name.parquet")

  /** Write with ZERO-extra-scan row accounting: `observe` piggybacks
    * the count on the write job itself, so the pipeline can record
    * rows-written (the audit number every ingest ledger wants) without
    * the classic `df.count(); df.write` double scan — at 100 TB that
    * double scan is a second pass over the input.
    */
  def writeCounted(df: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write
      .mode("overwrite")
      .parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  /** End-to-end corpus curation — the engine's training-data operators
    * composed into ONE runnable job over a documents dir:
    * LM-surprisal quality gate (q106's integer rule) → span-level
    * cleaning (q104: duplicated extents cut from the text) → exact
    * dedup on the CLEANED text (two docs differing only in boilerplate
    * collapse) → deterministic shuffle-manifest assignment (q103's
    * hash rule), written shard-partitioned with each shard clustered
    * into one task's output. Every stage is an oracle-checked query's
    * rule; this is the composition a platform user actually schedules.
    * Returns (input docs, curated docs) — the second from the write
    * itself ([[writeCounted]]'s observe trick), no second scan.
    *
    * `minKeepTokens` drops docs whose CLEANED text falls below the
    * floor (default 1 = drop empty): a doc that span-cleaning cut
    * entirely would otherwise collapse with every other fully-cut doc
    * into one empty-text "document" in the exact-dedup stage and ship
    * an empty doc into the training corpus.
    */
  def curateCorpus(
      spark: SparkSession,
      dataDir: String,
      outDir: String,
      shards: Int = 8,
      minKeepTokens: Int = 1,
      gateMilliBits: Long = 4400L,
      spanClean: Boolean = true
  ): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(shards > 0, "shards must be positive")
    require(minKeepTokens >= 1, "minKeepTokens must be >= 1")
    require(gateMilliBits >= 0, "gateMilliBits must be nonnegative")
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
    // Surprisal gate with a CONFIGURABLE threshold (milli-bits of
    // average bigram surprisal; integer compare, engine-portable).
    // The 4400 default is exactly q106's published keep rule
    // (s*5 <= n*22 ⇔ s*1000 <= n*4400) — a real pipeline tunes this
    // per corpus, since selectivity is a property of the corpus's
    // conditional entropy, not of the operator.
    val gate = graft.queries.TextQueries
      .q106LmSurprisal(spark, dataDir)
      .filter(col("surprisal_bits") * 1000 <= col("n_bigrams") * gateMilliBits)
      .select("doc_id")
    // Substring (span-level) dedup is OPTIONAL, like every production
    // curation stack makes it: on a corpus whose text is mostly shared
    // boilerplate by construction (this repo's synthetic fixtures, or
    // a crawl of templated pages) the span rule dominates selectivity,
    // and a pipeline that wants exact-dedup-only semantics must be
    // able to say so rather than re-implement the chain.
    val cleaned =
      if (spanClean)
        graft.queries.TextQueries
          .q104SpanClean(spark, dataDir)
          .select(col("doc_id"), col("clean_text"))
      else docs.select(col("doc_id"), col("text").as("clean_text"))
    val kept = docs
      .select(col("doc_id"), col("lang"), col("source"))
      .join(gate, Seq("doc_id"), "left_semi")
      .join(cleaned, Seq("doc_id"))
      // split("") yields [""] — the length guard makes the floor honest
      // for the fully-cut (empty clean_text) case at any minKeepTokens.
      .filter(
        length(trim(col("clean_text"))) > 0 &&
          size(split(trim(col("clean_text")), "\\s+")) >= minKeepTokens
      )
    val deduped = graft.operators.Dedup.dedupExact(kept, "doc_id", "clean_text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("__h"), col("doc_id"))
    val manifest = deduped
      .withColumn(
        "__h",
        conv(substring(md5(concat(lit("gs_"), col("doc_id").cast("string"))), 1, 7), 16, 10)
          .cast("long")
      )
      .withColumn("shard", (col("__h") % shards).cast("int"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("clean_text").as("text"), col("lang"), col("source"), col("shard"), col("rk"))
    val obs = org.apache.spark.sql.Observation()
    clusteredBy(manifest, "shard")
      .observe(obs, count(lit(1)).as("n"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)
    (docs.count(), obs.get("n").asInstanceOf[Long])
  }

  /** INCREMENTAL corpus curation — [[curateCorpus]] as a crawl loop
    * runs it, one batch at a time against persistent state instead of
    * corpus-wide recomputes: frozen-LM quality gate
    * ([[graft.operators.QualityModel.gate]] — the model retrains on a
    * schedule via `build_quality_model`, never per batch) → span-level
    * clean against the durable span-hash state
    * ([[graft.operators.Maintenance.incrementalDupSpans]]) → min-token
    * floor → cross-batch exact dedup against the hash index with the
    * batch's docs landing as a batch-keyed partition
    * (`StreamingPipeline.dedupIngestBatch`'s own-partition-excluding
    * probe). Every stage is either deterministic, marker-guarded, or a
    * batch-keyed overwrite, so a replay of the same `batchId` after a
    * crash at ANY point converges to identical states and output —
    * the composition inherits each member's exactly-once contract.
    *
    * On a FIRST batch (empty span state, empty index) with a model
    * frozen from the batch itself, the surviving (doc_id, text) set
    * equals [[curateCorpus]]'s batch computation exactly (spec-proved)
    * — the incremental path is the batch rule, not an approximation
    * of it. Same doc-disjointness contract as `dup_spans` across
    * batches. Returns (batch docs, accepted docs).
    */
  def curateIngest(
      spark: SparkSession,
      batch: DataFrame,
      modelPath: String,
      spanStatePath: String,
      dedupIndexPath: String,
      outDir: String,
      batchId: Long,
      minKeepTokens: Int = 1,
      spanStateBuckets: Int = 64
  ): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(minKeepTokens >= 1, "minKeepTokens must be >= 1")
    // The pins created below (settled, gated, the member operators')
    // are DEAD once this batch's output lands — released at exit via
    // the single-flight scratch-pin boundary
    // ([[graft.operators.Maintenance.releasingScratchPins]]).
    graft.operators.Maintenance.releasingScratchPins(spark) {
      // Settle the raw batch ONCE: the count, the span probe's shingles,
      // the gate's bigrams, and the survivor join would otherwise each
      // re-evaluate the source — inside a foreachBatch that is four
      // re-reads of the micro-batch's files per batch.
      val settled = graft.operators.Maintenance.labeledJobs(spark, "curate: settle batch") {
        batch.localCheckpoint()
      }
      val nIn = graft.operators.Maintenance.labeledJobs(spark, "curate: batch count") {
        settled.count()
      }
      // The quality gate and the span ingest are INDEPENDENT until
      // spanClean consumes both (each reads only the settled pin and
      // its own frozen state), and each issues several sequential
      // driver actions — run the gate on a second driver thread so its
      // jobs back-fill executors idled by the span ingest's small
      // sequential jobs (the scheduler runs concurrent jobs FIFO; the
      // span path keeps priority, the gate fills the tail). Measured:
      // the two batches' gate cost disappears from q108's critical
      // path.
      val (gated, ext) = graft.operators.Overlap.both {
        graft.operators.Maintenance.labeledJobs(spark, "curate: quality gate (overlapped)") {
          val keep = graft.operators.QualityModel
            .gate(spark, settled, "doc_id", "text", modelPath)
            .filter(col("keep_doc"))
            .select(col("doc_id"))
          // Also settled: the gate's dict joins would otherwise re-run
          // for each of its two consumers (clean, output join).
          settled.join(keep, Seq("doc_id"), "left_semi").localCheckpoint()
        }
      } { _ =>
        // Span extents come from the RAW batch, before the gate —
        // matching the batch rule, where q104's extents see the whole
        // corpus: a doc the quality gate rejects still proves its spans
        // are boilerplate, both for this batch's cleaning and (via the
        // state fold) for every future batch.
        graft.operators.Maintenance.incrementalDupSpans(
          spark, settled, "doc_id", "text", spanStatePath, Some(batchId),
          stateBuckets = spanStateBuckets
        )
      }
      val cleaned = graft.operators.Dedup
        .spanClean(gated, "doc_id", "text", ext)
        .filter(
          length(trim(col("clean_text"))) > 0 &&
            size(split(trim(col("clean_text")), "\\s+")) >= minKeepTokens
        )
      val docsOut = gated
        .drop("text")
        .join(cleaned.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      val accepted = graft.streaming.StreamingPipeline
        .dedupIngestBatch(spark, docsOut, outDir, dedupIndexPath, batchId)
      (nIn, accepted)
      }
  }
}

/** CLI entry — parity with the reference job surface: `--bucket`
  * (EP1 full reload) or `--bucket --raw_file_name` (EP2 per-file run),
  * plus the table-maintenance verbs a scheduled operator of the same
  * pipeline runs, `--maintenance VERB`. Each verb declares its flags
  * and a one-line summary next to its body in the table below; `--help`
  * prints them all, `--maintenance VERB --help` one verb.
  */
object PipelineRunner {
  import Cli.{bool, opt, req, verb, Args, Verb}

  /** Checks the command line before a session starts, stops the
    * session however the run ends, and exits non-zero on any failure —
    * an EP2 file quarantined to `failed/` included.
    */
  def main(args: Array[String]): Unit =
    cli.parse(args).fold(println(_), { opts =>
      val spark = graft.GraftSession.local("graft-pipeline")
      try opts.verb.body(opts, spark)
      finally spark.stop()
    })

  /** The CLI body against a caller-owned session (main wraps it with
    * session lifecycle; tests drive verbs without losing the shared
    * session to the final stop()).
    */
  def run(args: Array[String], spark: org.apache.spark.sql.SparkSession): Unit =
    cli.parse(args).fold(println(_), opts => opts.verb.body(opts, spark))


  /** Optional frozen-BPE metering for the pack verbs: with a model,
    * join the batch against its per-doc frozen-tokenizer counts and
    * name the weight column; without, pass the batch through (layout
    * meters whitespace tokens).
    */
  private def withBpeWeights(
      spark: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      bpeModel: Option[String]
  ): (org.apache.spark.sql.DataFrame, Option[String]) = bpeModel match {
    case None => (batch, None)
    case Some(m) =>
      val counts = graft.operators.Bpe
        .segmentCountsFrozen(batch, "doc_id", "text", m)
        .select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("n_bpe_tokens")
        )
      (batch.join(counts, Seq("doc_id")), Some("n_bpe_tokens"))
  }

  /** Budget resolution for pack consumer verbs: the `_budget` sidecar
    * recorded at ingest is authoritative — an explicit `--budget` must
    * agree with it (a mismatch silently yields garbage offsets
    * otherwise), and when omitted the stored value is the default.
    * Dirs without a sidecar (pre-sidecar states, hand-built
    * manifests) fall back to the explicit flag or 2048.
    */
  private def resolveBudget(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      opts: Args
  ): Long = {
    val explicit = opts.get("budget").map(_.toLong)
    val stored = graft.operators.Packing.storedBudget(spark, dir)
    (explicit, stored) match {
      case (Some(e), Some(s)) =>
        require(
          e == s,
          s"--budget $e disagrees with the budget this state was built with ($s, recorded in $dir/_budget)"
        )
        e
      case (Some(e), None) => e
      case (None, Some(s)) =>
        println(s"[maintenance] using recorded budget $s from $dir/_budget")
        s
      case (None, None) => 2048L
    }
  }

  /** Capstone audit manifests go through the ROOT's Hadoop FileSystem,
    * like every data path — a release rooted at `hdfs://`/`s3a://`
    * must land its `_*.json` next to its shards, not on the driver's
    * local disk (or throw after the release already exported).
    */
  private def writeManifest(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      name: String,
      json: String
  ): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, name)
    graft.operators.Maintenance.writeTextFile(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration),
      p,
      json
    )
  }

  /** Per-stage observability for the release capstones: wall-clock and
    * driver-heap-in-use after each composed verb, printed as
    * `[release] stage <name>: <sec> s (driver heap <MiB> MiB)`. The
    * numbers a scale soak records stage by stage — and what an
    * operator tails in production to see WHERE a release run is
    * spending its time without a Spark UI.
    */
  private def timedStage[T](verb: String, stage: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val out = f
    val rt = Runtime.getRuntime
    val usedMiB = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    println(f"[$verb] stage $stage: ${(System.nanoTime() - t0) / 1e9}%.1f s (driver heap $usedMiB MiB)")
    out
  }

  /** The release capstones pin `pack_ingest --applied_id 0`, so
    * re-running one into a root that ALREADY holds a pack state would
    * rebuild curated/clean but no-op the state fold on the applied-id
    * marker — the shards then re-export from STALE manifests against
    * the new clean/ docs with no interlock firing (verify_export only
    * compares shards to their own freshly written manifest). Refuse
    * up front: a release root must be fresh; true incremental appends
    * drive `pack_ingest` stepwise with advancing applied ids.
    */
  private def requireFreshReleaseRoot(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      verb: String
  ): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/pack_state")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      !fs.exists(p),
      s"$verb refuses to run into $root: it already holds a pack_state, and the " +
        "capstone's pinned --applied_id 0 would no-op the state fold and re-export " +
        "shards from stale manifests against the re-derived clean docs. Use an " +
        "empty --out root, or append incrementally via the stepwise pack_ingest " +
        "verb with a fresh --applied_id per batch."
    )
  }

  /** The release capstones' shared tail under `root`: `pack_ingest` of
    * `docs` as batch 0 of a fresh pack space, `afterPack` (a stage that
    * reads the new manifests), `build_vocab`, `pack_export` of every
    * emitted pack and, unless `--verify false`, `verify_export`. Each
    * step is the verb called recursively, so its interlocks fire and
    * its stage line names the calling capstone. Returns the manifests
    * and the pack count.
    */
  private def packAndExport(spark: SparkSession, opts: Args, root: String, docs: String)(
      afterPack: => Unit = ()
  ): (DataFrame, Long) = {
    val capstone = opts.verb.name
    timedStage(capstone, "pack_ingest") { run(
      Array("--maintenance", "pack_ingest", "--batch", docs, "--state", s"$root/pack_state",
        "--out", s"$root/manifests", "--applied_id", "0", "--budget", opts("budget"),
        "--shards", opts("shards")),
      spark
    ) }
    afterPack
    timedStage(capstone, "build_vocab") { run(
      Array("--maintenance", "build_vocab", "--docs", docs, "--out", s"$root/vocab"),
      spark
    ) }
    val man = spark.read.parquet(s"$root/manifests")
    val lastRow = man.agg(org.apache.spark.sql.functions.max("last_pack")).head()
    val nPacks = if (lastRow.isNullAt(0)) 0L else lastRow.getLong(0) + 1L
    timedStage(capstone, "pack_export") { run(
      Array("--maintenance", "pack_export", "--state", s"$root/pack_state",
        "--manifests", s"$root/manifests", "--docs", docs, "--vocab", s"$root/vocab",
        "--out", s"$root/shards", "--from", "0", "--to", nPacks.toString,
        "--shards", opts("export_shards")) ++ opts.get("unk_id").toSeq.flatMap(u => Seq("--unk_id", u)),
      spark
    ) }
    // post-landing integrity: the release's own shards re-read and
    // digest-compared against the landed manifest before anything
    // downstream trusts them (default on; --verify false skips)
    if (opts.bool("verify"))
      timedStage(capstone, "verify_export") {
        run(Array("--maintenance", "verify_export", "--path", s"$root/shards"), spark)
      }
    (man, nPacks)
  }

  /** Empty-drain guard for the stream verbs: a drain over an empty
    * `--raw` runs no batch, so it creates neither a fold's state nor
    * any `<prefix>_batch=` partition. `count` runs only once `dir`
    * holds a child named `batchPrefix*` (any child by default);
    * otherwise the successful no-op drain reports 0 instead of failing
    * on the missing dir.
    */
  private def drainedCount(spark: SparkSession, dir: String, batchPrefix: String = "")(count: => Long): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith(batchPrefix))) count else 0L
  }

  private val etl = verb(
    "etl",
    "EP1 reload of raw/ into transformed/; with --raw_file_name, EP2 run of one file (moved to failed/ on error)"
  )(
    req("bucket", "URI"), opt("raw_file_name", "FILE"), bool("coalesce", true),
    bool("partition_month", false), bool("dynamic_overwrite", false), bool("fail_fast", false)
  ) { (opts, spark) =>
    val bucket = opts("bucket")
    opts.get("raw_file_name") match {
      case Some(f) =>
        val ok = Pipeline.runIncrementalQuarantined(
          spark,
          bucket,
          f,
          singleFileOutput = opts.bool("coalesce"),
          partitionTimeByMonth = opts.bool("partition_month"),
          dynamicPartitionOverwrite = opts.bool("dynamic_overwrite"),
          failFast = opts.bool("fail_fast")
        )
        if (!ok) sys.error(s"etl: $f failed and was quarantined to ${bucket}failed/")
      case None =>
        Pipeline.runFullBatch(spark, s"${bucket}raw/", s"${bucket}transformed/")
    }
  }

  // turns_stream and turns_backfill share flags and body; the verb name
  // picks the drain.
  private val turnsFlags = Seq(
    req("raw", "DIR"), req("state", "DIR"), req("checkpoint", "DIR"),
    opt("max_depth", "N", "10000"), opt("max_conv_rows", "N", "2000000")
  )

  private val turnsDrain: (Args, org.apache.spark.sql.SparkSession) => Unit = { (opts, spark) =>
    // Streaming tree-membership maintenance
    // (StreamingPipeline.turnsIngest): tail a directory of
    // turn-batch JSON files into the persistent TreeState — the
    // tree family's streaming arm (batch tree_paths / incremental
    // tree_state / STREAMING triad). AvailableNow: drains what
    // exists, then returns (cron-friendly). Files must land in
    // causal order (parents before children); the fold's orphan
    // gate refuses violations loudly.
    // turns_backfill: the COLD-START arm — fold the whole existing
    // backlog as ONE batch on the SAME checkpoint, then run
    // turns_stream steady-state; a 100-file backlog costs one fold
    // instead of 100 serial per-file folds (the file-=-batch
    // contract is a steady-state discipline, not a replay tax).
    val raw = opts("raw")
    val state = opts("state")
    val ckpt = opts("checkpoint")
    val turnSchema = graft.schemas.Schemas.turnBatch
    val maxDepth = opts("max_depth").toInt
    // walk-row guard, raisable from the CLI (r16): the unit is
    // buffered walk rows (memberships ≈ paths × depth + batch
    // turns), not turns — see ConvTree.guardConvRows
    val maxConvRows = opts("max_conv_rows").toInt
    (if (opts.verb.name == "turns_backfill")
       graft.streaming.StreamingPipeline
         .turnsBackfill(spark, raw, state, ckpt, turnSchema, maxDepth, maxConvRows)
     else
       graft.streaming.StreamingPipeline
         .turnsIngest(spark, raw, state, ckpt, turnSchema, maxDepth, maxConvRows))
      .awaitTermination()
    val nMemb = drainedCount(spark, state)(graft.operators.TreeState.memberships(spark, state).count())
    println(
      s"[maintenance] ${opts.verb.name} drained: state at $state now holds $nMemb membership row(s)"
    )
  }

  // dpo_release hands these to its branch_pairs stage when given.
  private val dpoPassThrough = Seq(
    opt("conv_col", "COL"), opt("turn_col", "COL"), opt("parent_col", "COL"), opt("role_col", "COL"),
    opt("content_col", "COL"), opt("score_col", "COL"), opt("resp_role", "ROLE"), opt("max_depth", "N"),
    opt("paths_state", "DIR")
  )

  // pack_ingest and pack_ingest_by share one body; the _by verb adds
  // --group_col and packs per group.
  private def packIngestVerb(opts: Args, spark: SparkSession): Unit = {
    val batchPath = opts("batch")
    val state = opts("state")
    val out = opts("out")
    val applied = opts("applied_id").toLong
    val group = if (opts.verb.name == "pack_ingest_by") Some(opts("group_col")) else None
    val budget = opts("budget").toLong
    val shards = opts("shards").toInt
    val (batchDf, wcol) = withBpeWeights(spark, spark.read.parquet(batchPath), opts.get("bpe_model"))
    val packing = graft.operators.Packing
    val manifest = group match {
      case Some(g) =>
        packing.packIngestBy(spark, batchDf, "doc_id", "text", g, state, applied, budget, shards, weightCol = wcol)
      case None =>
        packing.packIngest(spark, batchDf, "doc_id", "text", state, applied, budget, shards, weightCol = wcol)
    }
    manifest.write.mode("overwrite").parquet(s"$out/pack_batch=$applied")
    // manifest root carries the same budget sidecar as the state,
    // so manifest-only consumers (pack_boundaries) can validate too
    packing.recordBudget(spark, out, budget)
    println(group match {
      case Some(g) =>
        s"[maintenance] stratified pack ingest: $batchPath appended per-$g to $state -> $out/pack_batch=$applied"
      case None => s"[maintenance] pack ingest: $batchPath appended to $state -> $out/pack_batch=$applied"
    })
  }

  // pack_stream and pack_stream_by share one body; the _by verb adds
  // --group_col and reads the per-source document shape.
  private def packStreamVerb(opts: Args, spark: SparkSession): Unit = {
    val raw = opts("raw")
    val state = opts("state")
    val out = opts("out")
    val ckpt = opts("checkpoint")
    val budget = opts("budget").toLong
    val shards = opts("shards").toInt
    val stratified = opts.verb.name == "pack_stream_by"
    (if (stratified)
       graft.streaming.StreamingPipeline.packIngestStreamBy(
         spark, raw, state, out, ckpt, Schemas.documentIngestBy, opts("group_col"), budget, shards
       )
     else
       graft.streaming.StreamingPipeline.packIngestStream(
         spark, raw, state, out, ckpt, Schemas.documentIngest, budget, shards
       ))
      .awaitTermination()
    println(s"[maintenance] ${if (stratified) "stratified " else ""}pack stream drained $raw into $out")
  }

  // decontaminate, decontam_fuzzy and decontam_semantic share one body:
  // the verb name picks the Dedup tier and its key column; the report
  // is pinned once, written, and with --purged the contaminated keys
  // are anti-joined out of the train set.
  private def decontamVerb(opts: Args, spark: SparkSession): Unit = {
    val name = opts.verb.name
    val out = opts("out")
    val threshold = opts("threshold").toDouble
    val train = spark.read.parquet(opts("train"))
    val evalDf = spark.read.parquet(opts("eval"))
    val dedup = graft.operators.Dedup
    val (key, unit, reported, report) = name match {
      case "decontaminate" =>
        ("doc_id", "train docs", "overlapping train docs reported",
          dedup.decontamPurge(train, evalDf, "doc_id", "text", threshold))
      case "decontam_fuzzy" =>
        ("doc_id", "train docs", "band-colliding train docs reported",
          dedup.decontamFuzzy(
            train, evalDf, "doc_id", "text", threshold, opts("nhashes").toInt, opts("bandrows").toInt))
      case _ =>
        ("vec_id", "train vectors", "train vectors audited",
          dedup.decontamSemantic(train, evalDf, "vec_id", "embedding", threshold))
    }
    val pinned = report.localCheckpoint() // one computation serves the report write AND the purge anti-join
    val n = Pipeline.writeCounted(pinned, out)
    opts.get("purged").foreach { p =>
      import org.apache.spark.sql.functions.col
      val kept = train.join(pinned.filter(col("contaminated")).select(col(key)), Seq(key), "left_anti")
      val k = Pipeline.writeCounted(kept, p)
      println(s"[maintenance] $name: kept $k $unit into $p")
    }
    println(s"[maintenance] $name: $n $reported at $out")
  }

  // decontam_stream, decontam_fuzzy_stream and decontam_semantic_stream
  // share one body; the verb name picks the StreamingPipeline gate.
  private def decontamStreamVerb(opts: Args, spark: SparkSession): Unit = {
    val name = opts.verb.name
    val raw = opts("raw")
    val evalPath = opts("eval")
    val out = opts("out")
    val ckpt = opts("checkpoint")
    val threshold = opts("threshold").toDouble
    val sp = graft.streaming.StreamingPipeline
    (name match {
      case "decontam_stream" =>
        sp.decontamStream(spark, raw, evalPath, out, ckpt, Schemas.documentIngest, threshold)
      case "decontam_fuzzy_stream" =>
        sp.decontamFuzzyStream(
          spark, raw, evalPath, out, ckpt, Schemas.documentIngest, threshold,
          opts("nhashes").toInt, opts("bandrows").toInt
        )
      case _ => sp.decontamSemanticStream(spark, raw, evalPath, out, ckpt, threshold)
    }).awaitTermination()
    println(s"[maintenance] ${name.replace('_', ' ')} drained $raw into $out")
  }

  /** retire_packs' and mask_intervals' shared input: the manifests, the
    * contaminated doc ids (--contam: a decontaminate report — rows with
    * a `contaminated` column are filtered — or any bare doc_id parquet),
    * the --group_col columns and the budget.
    *
    * Stratified interlock: packIngestBy manifests number packs PER
    * DOMAIN — auditing by pack_id alone would conflate domains and a
    * pack_id-keyed mask would retire every domain's pack k. Any column
    * beyond the global-stream manifest shape must be named as the
    * grouping via --group_col (the output is then keyed
    * (group, pack_id)).
    */
  private def contamAgainstManifests(
      opts: Args,
      spark: SparkSession
  ): (DataFrame, DataFrame, Seq[String], Long) = {
    import org.apache.spark.sql.functions.col
    val manifests = opts("manifests")
    val budget = resolveBudget(spark, manifests, opts)
    val contamDf = spark.read.parquet(opts("contam"))
    val ids =
      if (contamDf.columns.contains("contaminated")) contamDf.filter(col("contaminated")).select(col("doc_id"))
      else contamDf.select(col("doc_id"))
    val man = spark.read.parquet(manifests)
    val groupCols = opts.get("group_col").map(_.split(",").toSeq).getOrElse(Nil)
    val globalShape =
      Set("doc_id", "shard", "start_tok", "n_toks", "first_pack", "last_pack", "n_packs", "pack_batch")
    val extra = man.columns.filterNot(c => globalShape.contains(c) || groupCols.contains(c))
    require(
      extra.isEmpty,
      s"${opts.verb.name}: manifest carries non-global columns ${extra.mkString(",")} — a stratified " +
        "(per-domain) pack space numbers packs per domain; pass --group_col <col> so the output is " +
        "keyed (group, pack_id) instead of silently conflating domains"
    )
    (man, ids, groupCols, budget)
  }

  private val verbs: Seq[Verb] = Seq(
    verb("compact", "rewrite a table dir into files of about --target_mb MB")(
      req("path", "DIR"), opt("target_mb", "MB", "128")) { (opts, spark) =>
      val path = opts("path")
      val target = opts("target_mb").toLong * 1024 * 1024
      val n = graft.operators.Maintenance.compact(spark, path, target)
      println(s"[maintenance] compacted $path -> $n file(s)")
    },
    verb("expire", "delete year= (or year=/month=) partitions older than --before YYYYMM")(
      req("path", "DIR"), req("before", "YYYYMM")) { (opts, spark) =>
      val path = opts("path")
      val before = opts("before").toInt
      val deleted = graft.operators.Maintenance.expirePartitions(
        spark,
        path,
        spec =>
          (spec.get("year"), spec.get("month")) match {
            // year=/month= nested layout: expire by year-month
            case (Some(y), Some(m)) => y.toInt * 100 + m.toInt < before
            // year=-only layout (full-batch writes): expire a whole
            // year when even its December predates the cutoff; else
            // recurse (a month level, if present, decides per month)
            case (Some(y), None) => y.toInt * 100 + 12 < before
            // month=-only layout carries no year — a YYYYMM cutoff
            // cannot be applied to it; refuse loudly over guessing
            case _ =>
              sys.error(
                "expire needs a year= (optionally month=) layout; " +
                  "month=-only layouts carry no year to compare against"
              )
          }
      )
      println(s"[maintenance] expired ${deleted.length} partition(s)")
    },
    verb("materialize_features", "write the shared text-feature tables as durable parquet under --state")(
      req("data", "DIR"), req("state", "DIR")) { (opts, spark) =>
      // Durable parquet barrier for the shared text-feature tables —
      // the scheduled twin of the per-session memo (SCALE.md).
      val data = opts("data")
      val state = opts("state")
      val (sh, tok) = graft.queries.TextQueries.materializeFeatures(spark, data, state)
      println(s"[maintenance] materialized features: $sh , $tok")
    },
    verb("rebalance_vector_index", "split IVF clusters larger than --max_over_median x the median size")(
      req("path", "DIR"), opt("max_over_median", "X", "8")) { (opts, spark) =>
      // Skew escalation for a persistent IVF index: split clusters
      // above --max_over_median x median(cluster size). The scheduled
      // response when clusterStats drifts (VectorIndex.rebalance).
      val path = opts("path")
      val bound = opts("max_over_median").toDouble
      val split = graft.operators.VectorIndex.rebalance(spark, path, bound)
      println(s"[maintenance] rebalanced $path: $split cluster(s) split")
    },
    verb("semantic_dedup_ingest", "drain embedding JSON files through streaming SemDeDup against the IVF index")(
      req("raw", "DIR"), req("index", "DIR"), req("drops", "DIR"), req("checkpoint", "DIR"),
      opt("min_cos", "X", "0.995"), bool("resolve_survivors", false)) { (opts, spark) =>
      // Streaming SemDeDup over arriving embedding files: probe the
      // persistent IVF index, drop near-dups, append survivors —
      // the scheduled twin of dedup/near-dup ingest
      // (StreamingPipeline.semanticDedupIngest). Embedding JSON shape:
      // {"vec_id": long, "embedding": [double, ...]}.
      // --resolve_survivors true adds a `survivor` column to the drop
      // telemetry: dup_of chased through the batch's drop chain to the
      // row that was actually kept.
      val raw = opts("raw")
      val index = opts("index")
      val drops = opts("drops")
      val ckpt = opts("checkpoint")
      val minCos = opts("min_cos").toDouble
      val resolve = opts.bool("resolve_survivors")
      graft.streaming.StreamingPipeline
        .semanticDedupIngest(
          spark, raw, index, drops, ckpt, graft.schemas.Schemas.embeddingIngest, minCos, resolve
        )
        .awaitTermination()
      println(s"[maintenance] semantic dedup ingest drained $raw into $index")
    },
    verb("curate", "one-command curation: quality gate, span clean, token floor, exact dedup, shards")(
      req("data", "DIR"), req("out", "DIR"), opt("shards", "N", "8"), opt("min_keep_tokens", "N", "1"),
      opt("gate_millibits", "N", "4400"), bool("span_clean", true)) { (opts, spark) =>
      // One-command corpus curation: quality gate -> span clean ->
      // min-token floor -> exact dedup on cleaned text -> shard
      // manifest (Pipeline.curateCorpus; each stage is an
      // oracle-checked rule).
      val data = opts("data")
      val out = opts("out")
      val shards = opts("shards").toInt
      val minKeep = opts("min_keep_tokens").toInt
      val gateMilliBits = opts("gate_millibits").toLong
      val spanClean = opts.bool("span_clean")
      val (nIn, nOut) =
        Pipeline.curateCorpus(spark, data, out, shards, minKeep, gateMilliBits, spanClean)
      println(s"[maintenance] curated $data: $nIn -> $nOut docs in $out")
    },
    verb("span_dedup_ingest", "drain document JSON files through streaming span-level dedup")(
      req("raw", "DIR"), req("state", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("min_tokens", "N", "5")) { (opts, spark) =>
      // Streaming span-level dedup over arriving document JSON files:
      // per-file extents against the persistent span-hash state,
      // batch-keyed telemetry, hashes folded in
      // (StreamingPipeline.spanDedupIngest). Document JSON shape:
      // {"doc_id": long, "text": string}. Same doc-disjointness
      // constraint as dup_spans: a re-used doc_id with changed text
      // silently loses its cross-version duplicate spans — give
      // re-crawled documents fresh ids.
      val raw = opts("raw")
      val state = opts("state")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      val minTokens = opts("min_tokens").toInt
      graft.streaming.StreamingPipeline
        .spanDedupIngest(spark, raw, state, out, ckpt, graft.schemas.Schemas.documentIngest, minTokens)
        .awaitTermination()
      println(s"[maintenance] span dedup ingest drained $raw against $state")
    },
    verb("dup_spans", "span-level dedup of one batch against the persistent span-hash state")(
      req("batch", "DIR"), req("state", "DIR"), req("out", "DIR"), opt("applied_id", "N"),
      opt("min_tokens", "N", "5"), bool("check_doc_reuse", false)) { (opts, spark) =>
      // Incremental span-level dedup: probe one batch of documents
      // against the persistent span-hash state, emit the batch's
      // duplicated extents as parquet, fold the batch's hashes in
      // (Maintenance.incrementalDupSpans — exactly-once via
      // --applied_id). Batch parquet shape: (doc_id, text).
      // CONSTRAINT: exact for doc-disjoint batches. Re-using a
      // doc_id with CHANGED text makes the self-attribution
      // exclusion silently suppress that doc's cross-version
      // duplicate spans — re-crawls that may rewrite a doc must
      // assign a fresh doc_id (e.g. (url, crawl_ts) keyed).
      // --check_doc_reuse true enforces it: the run fails listing
      // offenders (costs a two-column full-state scan — audit
      // schedule, not hot path).
      val batchPath = opts("batch")
      val state = opts("state")
      val out = opts("out")
      val applied = opts.get("applied_id").map(_.toLong)
      val minTokens = opts("min_tokens").toInt
      val checkReuse = opts.bool("check_doc_reuse")
      graft.operators.Maintenance
        .incrementalDupSpans(
          spark,
          spark.read.parquet(batchPath),
          "doc_id",
          "text",
          state,
          applied,
          minTokens,
          checkDocIdReuse = checkReuse
        )
        .write
        .mode("overwrite")
        .parquet(out)
      println(s"[maintenance] dup spans: $batchPath probed against $state -> $out")
    },
    // Incremental sequence packing: lay one batch of documents out
    // after everything already packed (Packing.packIngest — the
    // persistent offset state makes emitted pack ids immutable),
    // write the batch's manifest under out/pack_batch=<id>.
    // Batch parquet shape: (doc_id, text). Replay of the same
    // --applied_id converges (recorded base reused). With
    // --bpe_model M, the stream is metered in FROZEN-BPE tokens
    // (Bpe.segmentCountsFrozen joined as the layout weight) — pin
    // one model version per state: offsets are cumulative, a
    // drifting metric would re-meter history.
    verb("pack_ingest", "pack one batch after everything already packed (emitted pack ids never move)")(
      req("batch", "DIR"), req("state", "DIR"), req("out", "DIR"), req("applied_id", "N"),
      opt("budget", "N", "2048"), opt("shards", "N", "8"), opt("bpe_model", "DIR"))(packIngestVerb),
    // Incremental STRATIFIED packing: same contract per domain
    // (Packing.packIngestBy — per-domain append-only pack spaces).
    // Batch parquet shape: (doc_id, <group_col>, text).
    verb("pack_ingest_by", "pack_ingest with one append-only pack space per --group_col value")(
      req("batch", "DIR"), req("state", "DIR"), req("out", "DIR"), req("applied_id", "N"),
      opt("group_col", "COL", "source"), opt("budget", "N", "2048"), opt("shards", "N", "8"),
      opt("bpe_model", "DIR"))(packIngestVerb),
    verb("build_quality_model", "freeze the LM quality model from a reference corpus")(
      req("data", "DIR"), req("model", "DIR"), opt("retain", "N", "1")) { (opts, spark) =>
      // Freeze the LM quality model from a reference corpus — the
      // scheduled retrain feeding curate_ingest's gate
      // (QualityModel.build; immutable version dir + overwrite-rename
      // pointer flip, --retain N predecessors kept for readers).
      val data = opts("data")
      val model = opts("model")
      val retain = opts("retain").toInt
      graft.operators.QualityModel.build(
        spark,
        spark.read.parquet(s"$data/documents.parquet"),
        "doc_id",
        "text",
        model,
        retain
      )
      println(s"[maintenance] quality model frozen from $data into $model")
    },
    verb("build_bpe_model", "freeze a versioned BPE merge table from a reference corpus")(
      req("data", "DIR"), req("model", "DIR"), opt("merges", "N", "256"), opt("min_count", "N", "1"),
      opt("retain", "N", "1"), opt("driver_max_chars", "N", "16777216")) { (opts, spark) =>
      // Freeze a BPE merge table from a reference corpus
      // (Bpe.buildModel — same versioned-pointer serving protocol as
      // the quality model). A frozen tokenizer keeps BPE token
      // counts stable across a crawl.
      val data = opts("data")
      val model = opts("model")
      val merges = opts("merges").toInt
      val minCount = opts("min_count").toLong
      val retain = opts("retain").toInt
      // --driver_max_chars: the trainer-path threshold (chars of
      // pruned histogram the driver will hold); 0 forces the
      // distributed per-round loop.
      val dmc = opts("driver_max_chars").toLong
      graft.operators.Bpe.buildModel(
        spark,
        spark.read.parquet(s"$data/documents.parquet"),
        "text",
        model,
        merges,
        minCount,
        retain,
        dmc
      )
      println(s"[maintenance] BPE model ($merges merges) frozen from $data into $model")
    },
    verb("bpe_segment", "per-doc token counts of a batch under a frozen BPE model")(
      req("batch", "DIR"), req("model", "DIR"), req("out", "DIR")) { (opts, spark) =>
      // Score a batch with a frozen tokenizer: per-doc whitespace vs
      // BPE token counts (Bpe.segmentCountsFrozen) — the counts a
      // pack-budget loop meters with (pack_ingest on n_bpe_tokens
      // via Packing.layoutWeighted).
      val batchPath = opts("batch")
      val model = opts("model")
      val out = opts("out")
      graft.operators.Bpe
        .segmentCountsFrozen(spark.read.parquet(batchPath), "doc_id", "text", model)
        .write
        .mode("overwrite")
        .parquet(out)
      println(s"[maintenance] BPE segment counts: $batchPath scored against $model -> $out")
    },
    verb("curate_ingest", "incremental curation of one batch: frozen gate, span clean, floor, cross-batch dedup")(
      req("batch", "DIR"), req("model", "DIR"), req("span_state", "DIR"), req("index", "DIR"),
      req("out", "DIR"), req("applied_id", "N"), opt("min_keep_tokens", "N", "1")) { (opts, spark) =>
      // Incremental curation of one crawl batch against persistent
      // state (Pipeline.curateIngest): frozen-LM gate -> span clean
      // vs the durable span-hash state -> min-token floor ->
      // cross-batch exact dedup. Batch parquet shape: (doc_id, text,
      // ...); exactly-once via --applied_id (replays converge); same
      // doc-disjointness contract as dup_spans.
      val batchPath = opts("batch")
      val model = opts("model")
      val spanState = opts("span_state")
      val index = opts("index")
      val out = opts("out")
      val applied = opts("applied_id").toLong
      val minKeep = opts("min_keep_tokens").toInt
      val (nIn, nOut) = Pipeline.curateIngest(
        spark,
        spark.read.parquet(batchPath),
        model,
        spanState,
        index,
        out,
        applied,
        minKeep
      )
      println(s"[maintenance] curate ingest batch $applied: $nIn -> $nOut docs into $out")
    },
    verb("curate_stream", "drain document JSON files through the curate_ingest composition")(
      req("raw", "DIR"), req("model", "DIR"), req("span_state", "DIR"), req("index", "DIR"),
      req("out", "DIR"), req("checkpoint", "DIR"), opt("min_keep_tokens", "N", "1")) { (opts, spark) =>
      // Streaming curation over arriving document JSON files: the
      // curate_ingest composition per micro-batch, foreachBatch ids
      // keying every stage's exactly-once machinery
      // (StreamingPipeline.curateIngestStream). Document JSON shape:
      // {"doc_id": long, "text": string}; same doc-disjointness
      // contract as dup_spans across files.
      val raw = opts("raw")
      val model = opts("model")
      val spanState = opts("span_state")
      val index = opts("index")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      val minKeep = opts("min_keep_tokens").toInt
      graft.streaming.StreamingPipeline
        .curateIngestStream(
          spark, raw, model, spanState, index, out, ckpt,
          graft.schemas.Schemas.documentIngest, minKeep
        )
        .awaitTermination()
      println(s"[maintenance] curate stream drained $raw into $out")
    },
    // Streaming incremental packing over arriving document JSON
    // files: packIngest per micro-batch, manifests batch-keyed
    // (StreamingPipeline.packIngestStream). Document JSON shape:
    // {"doc_id": long, "text": string}.
    verb("pack_stream", "pack_ingest per arriving document JSON file")(
      req("raw", "DIR"), req("state", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("budget", "N", "2048"), opt("shards", "N", "8"))(packStreamVerb),
    // Streaming stratified packing over arriving document JSON
    // files (StreamingPipeline.packIngestStreamBy). JSON shape:
    // {"doc_id": long, "source": string, "text": string}.
    verb("pack_stream_by", "pack_ingest_by per arriving document JSON file")(
      req("raw", "DIR"), req("state", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("group_col", "COL", "source"), opt("budget", "N", "2048"),
      opt("shards", "N", "8"))(packStreamVerb),
    verb("fertility_stream", "per-source fertility telemetry per arriving file under a frozen BPE model")(
      req("raw", "DIR"), req("model", "DIR"), req("out", "DIR"), req("checkpoint", "DIR")) { (opts, spark) =>
      // Streaming fertility-drift telemetry under a frozen BPE model
      // (StreamingPipeline.fertilityStream): per arriving document
      // JSON file, per-source whitespace vs model token totals as
      // batch-keyed rows. JSON shape: {"doc_id","source","text"}.
      val raw = opts("raw")
      val model = opts("model")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      graft.streaming.StreamingPipeline
        .fertilityStream(spark, raw, model, out, ckpt, graft.schemas.Schemas.documentIngestBy)
        .awaitTermination()
      println(s"[maintenance] fertility stream drained $raw into $out")
    },
    // Streaming decontamination against a frozen eval benchmark
    // (StreamingPipeline.decontamStream): per arriving document
    // JSON file, the per-doc eval-overlap report as batch-keyed
    // telemetry. JSON shape: {"doc_id","text"}.
    verb("decontam_stream", "eval-overlap report per arriving document JSON file")(
      req("raw", "DIR"), req("eval", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("threshold", "X", "0.5"))(decontamStreamVerb),
    // The pair-attributed near-dup ingest gate
    // (StreamingPipeline.decontamFuzzyStream): per arriving document
    // JSON file, the per-doc LSH eval-overlap report as batch-keyed
    // telemetry. JSON shape: {"doc_id","text"}.
    verb("decontam_fuzzy_stream", "LSH near-dup eval report per arriving document JSON file")(
      req("raw", "DIR"), req("eval", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("threshold", "X", "0.5"), opt("nhashes", "N", "16"), opt("bandrows", "N", "4"))(decontamStreamVerb),
    verb("pack_curated_stream", "pack a curated corpus' batch partitions as they land")(
      req("curated", "DIR"), req("state", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("budget", "N", "2048"), opt("shards", "N", "8")) { (opts, spark) =>
      // The curation→packing chain consumer: tail a curate_stream /
      // curate_ingest corpus' batch-keyed parquet partitions and lay
      // each newly accepted file out after everything already packed
      // (StreamingPipeline.packCuratedStream). Run AFTER the
      // curator's drain (or lagged one sealed batch behind it — see
      // the method's replay note).
      val curated = opts("curated")
      val state = opts("state")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      val budget = opts("budget").toLong
      val shards = opts("shards").toInt
      graft.streaming.StreamingPipeline
        .packCuratedStream(spark, curated, state, out, ckpt, budget, shards)
        .awaitTermination()
      println(s"[maintenance] pack curated stream drained $curated into $out")
    },
    verb("pack_slices", "materialize packs [--from, --to) from the incremental manifests")(
      req("state", "DIR"), req("manifests", "DIR"), req("docs", "DIR"), req("out", "DIR"), req("from", "N"),
      req("to", "N"), opt("budget", "N"), opt("mask", "DIR")) { (opts, spark) =>
      // Loader-side pack materialization from an incremental manifest
      // dir (Packing.materializePacks): the offset state prunes the
      // batch-keyed manifest dirs to those overlapping the requested
      // pack window BEFORE any file is opened, so a training job can
      // read packs [from, to) at O(packs x budget) exploded tokens
      // whatever the crawl age. Docs parquet shape: (doc_id, text).
      // --budget defaults to (and must agree with) the state's
      // recorded sidecar; --mask excludes retired packs
      // (retire_packs' decision file).
      val state = opts("state")
      val manifests = opts("manifests")
      val docsPath = opts("docs")
      val out = opts("out")
      val from = opts("from").toLong
      val to = opts("to").toLong
      val budget = resolveBudget(spark, state, opts)
      val slices = graft.operators.Packing
        .materializePacks(
          spark,
          state,
          manifests,
          spark.read.parquet(docsPath),
          "doc_id",
          "text",
          from,
          to,
          budget,
          mask = opts.get("mask").map(spark.read.parquet)
        )
      val n = Pipeline.writeCounted(slices, out)
      println(s"[maintenance] pack slices [$from, $to): $n token rows from $manifests into $out")
    },
    // Benchmark decontamination (Dedup.decontamPurge): report every
    // train doc overlapping the eval corpus' shingle set; with
    // --purged, also write the train corpus minus the contaminated
    // ids. Both parquets need (doc_id, text).
    verb("decontaminate", "report train docs overlapping the eval shingles; --purged writes the rest")(
      req("train", "DIR"), req("eval", "DIR"), req("out", "DIR"), opt("threshold", "X", "0.5"),
      opt("purged", "DIR"))(decontamVerb),
    // Pair-attributed near-dup decontamination (Dedup.decontamFuzzy):
    // per train doc, the eval items it MinHash-LSH-collides with and
    // the worst verified whole-set Jaccard. The high-precision triage
    // for `decontaminate`'s pooled-overlap report (which dominates on
    // recall but cannot attribute); same --purged anti-join contract.
    verb("decontam_fuzzy", "per train doc, LSH-candidate eval items and the worst verified Jaccard")(
      req("train", "DIR"), req("eval", "DIR"), req("out", "DIR"), opt("threshold", "X", "0.5"),
      opt("nhashes", "N", "16"), opt("bandrows", "N", "4"), opt("purged", "DIR"))(decontamVerb),
    // The embedding tier (Dedup.decontamSemantic): per train
    // vector, its best-cosine eval match and verdict. Both
    // parquets need (vec_id, embedding); same --purged anti-join
    // contract as the lexical tiers.
    verb("decontam_semantic", "per train vector, its best-cosine eval match and verdict")(
      req("train", "DIR"), req("eval", "DIR"), req("out", "DIR"), opt("threshold", "X", "0.5"),
      opt("purged", "DIR"))(decontamVerb),
    // The embedding tier's ingest gate
    // (StreamingPipeline.decontamSemanticStream): per arriving
    // embedding JSON file, each vector's best-cosine eval match as
    // batch-keyed telemetry. JSON shape: {"vec_id","embedding"}.
    verb("decontam_semantic_stream", "best-cosine eval match per arriving embedding JSON file")(
      req("raw", "DIR"), req("eval", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"),
      opt("threshold", "X", "0.5"))(decontamStreamVerb),
    verb("retire_packs", "audit contaminated docs against the manifests and write the retirement mask")(
      req("manifests", "DIR"), req("contam", "DIR"), req("out", "DIR"), opt("budget", "N"),
      opt("threshold", "X", "0.0"), opt("group_col", "COL")) { (opts, spark) =>
      // APPLY decontamination to an already-emitted pack space:
      // map the contaminated doc ids (--contam: a decontaminate
      // report — rows with a `contaminated` column are filtered —
      // or any bare doc_id parquet) onto the pack manifests
      // (Packing.contamAudit: pure manifest arithmetic, no text
      // read), decide retirement per pack (Packing.retirePacks;
      // --threshold = max tolerated contaminated-position fraction,
      // default 0 — any contamination retires), and write the mask
      // side-file pack_slices/pack_export honor via --mask. Packs
      // are never re-packed: emitted ids are immutable under a live
      // trainer, so contamination handling is an exclusion layer.
      val out = opts("out")
      val threshold = opts("threshold").toDouble
      val (man, ids, groupCols, budget) = contamAgainstManifests(opts, spark)
      val audit = graft.operators.Packing
        .contamAudit(man, ids, "doc_id", budget, groupCols)
      val mask = graft.operators.Packing.retirePacks(audit, budget, threshold, groupCols)
      val n = Pipeline.writeCounted(mask, out)
      val retired = spark.read
        .parquet(out)
        .filter(org.apache.spark.sql.functions.col("retired"))
        .count()
      println(
        s"[maintenance] retire packs: $n contaminated pack(s) audited, $retired retired " +
          s"(threshold $threshold) -> mask at $out"
      )
    },
    verb("mask_intervals", "pack-local loss-mask intervals for contaminated docs")(
      req("manifests", "DIR"), req("contam", "DIR"), req("out", "DIR"), opt("budget", "N"),
      opt("group_col", "COL")) { (opts, spark) =>
      // Position-level loss masks (Packing.maskIntervals): the
      // surgical alternative retire_packs composes with — per
      // (contaminated doc, pack it overlaps), the pack-local
      // half-open token interval the trainer zeroes loss on.
      // Same --contam flexibility and stratified --group_col
      // interlock as retire_packs; the output is a
      // contamination-sized side-file, never a re-pack.
      val out = opts("out")
      val (man, ids, groupCols, budget) = contamAgainstManifests(opts, spark)
      val masks = graft.operators.Packing
        .maskIntervals(man, ids, "doc_id", budget, groupCols)
      val n = Pipeline.writeCounted(masks, out)
      println(s"[maintenance] mask intervals: $n pack-local loss-mask interval(s) -> $out")
    },
    verb("build_vocab", "freeze the dense-id token dictionary from a corpus")(
      req("docs", "DIR"), req("out", "DIR"), opt("parts", "N", "32")) { (opts, spark) =>
      // Freeze the dense-id dictionary (Vocab.build) from a corpus
      // parquet (needs a `text` column): the id space every integer
      // export encodes under. Train once, serve frozen — the same
      // posture as build_bpe_model, minus versioning (the table is a
      // pure function of the corpus; re-running on the same corpus
      // rewrites identical rows).
      val docsPath = opts("docs")
      val out = opts("out")
      val parts = opts("parts").toInt
      val vocab = graft.operators.Vocab
        .build(spark.read.parquet(docsPath).select(org.apache.spark.sql.functions.col("text")), "text", parts)
      val n = Pipeline.writeCounted(vocab, out)
      println(s"[maintenance] vocab: $n tokens from $docsPath into $out")
    },
    verb("pack_export", "export packs [--from, --to) as id arrays in hash shards under the frozen vocab")(
      req("state", "DIR"), req("manifests", "DIR"), req("docs", "DIR"), req("vocab", "DIR"),
      req("out", "DIR"), req("from", "N"), req("to", "N"), opt("budget", "N"), opt("shards", "N", "8"),
      opt("mask", "DIR"), opt("unk_id", "N"), opt("loss_masks", "DIR")) { (opts, spark) =>
      // The trainer hand-off: materialize packs [from, to) from the
      // incremental manifests (state-pruned, like pack_slices),
      // encode under the FROZEN vocab written by build_vocab, roll
      // to one (pack_id, positions, token_ids) row per pack, and
      // export hash-sharded (Scale.exportShards: shard =
      // hash(pack_id) % n — stable shard contents under any input
      // partitioning, manifest computed from landed data). A
      // training job reads `shard=k/` and memory-maps its rows.
      val state = opts("state")
      val manifests = opts("manifests")
      val docsPath = opts("docs")
      val vocabPath = opts("vocab")
      val out = opts("out")
      val from = opts("from").toLong
      val to = opts("to").toLong
      val budget = resolveBudget(spark, state, opts)
      val shards = opts("shards").toInt
      val maskDf = opts.get("mask").map(spark.read.parquet)
      val unkId = opts.get("unk_id").map(_.toLong)
      val slices = graft.operators.Packing
        .materializePacks(
          spark,
          state,
          manifests,
          spark.read.parquet(docsPath),
          "doc_id",
          "text",
          from,
          to,
          budget,
          mask = maskDf
        )
        .localCheckpoint() // one computation serves the OOV probe AND the export
      val vocabDf = spark.read.parquet(vocabPath)
      // OOV interlock: a token the frozen vocab doesn't know would
      // otherwise VANISH from the export (inner-join drop), leaving
      // only a silent hole in the positions array — with a vocab
      // frozen on an older corpus snapshot that is invisible data
      // loss. Count the misses; refuse unless the caller names the
      // reserved unk id the gaps should map to.
      val nOov = slices
        .join(
          vocabDf.select(org.apache.spark.sql.functions.col("token")),
          Seq("token"),
          "left_anti"
        )
        .count()
      require(
        nOov == 0L || unkId.isDefined,
        s"pack export: $nOov token position(s) in [$from, $to) are OOV under $vocabPath - " +
          "pass --unk_id <reserved id> to map them explicitly, or rebuild the vocab on the current corpus"
      )
      if (nOov > 0L)
        println(s"[maintenance] pack export: $nOov OOV position(s) mapped to unk id ${unkId.get}")
      val arrays = graft.operators.Vocab
        .packArrays(slices, vocabDf, unkId)
      val manifest = graft.operators.Scale.exportShards(arrays, "pack_id", shards, out)
      val landed = manifest.agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0)
      // holes accounted: a masked export states exactly which pack
      // ids of the window were withheld, so the trainer side can
      // reconcile landed == (to - from) - retired instead of
      // guessing at a silent shortfall.
      maskDf.foreach { mk =>
        val retired = mk
          .filter(org.apache.spark.sql.functions.col("retired"))
          .filter(org.apache.spark.sql.functions.col("pack_id") >= from &&
            org.apache.spark.sql.functions.col("pack_id") < to)
          .count()
        println(s"[maintenance] pack export: $retired retired pack(s) withheld from [$from, $to)")
      }
      // Ship the window's loss-mask intervals (a mask_intervals
      // side-file) WITH the export, under an underscore dir root
      // readers ignore — the trainer finds packs and masks in one
      // landing. Intervals for retired (withheld) packs are dropped:
      // they have no exported row to mask.
      opts.get("loss_masks").foreach { lm =>
        val windowed = spark.read
          .parquet(lm)
          .filter(org.apache.spark.sql.functions.col("pack_id") >= from &&
            org.apache.spark.sql.functions.col("pack_id") < to)
        val shipped = maskDf match {
          case Some(mk) =>
            windowed.join(
              mk.filter(org.apache.spark.sql.functions.col("retired"))
                .select(org.apache.spark.sql.functions.col("pack_id")),
              Seq("pack_id"),
              "left_anti"
            )
          case None => windowed
        }
        val nm = Pipeline.writeCounted(shipped, s"$out/_loss_masks")
        val tot = spark.read
          .parquet(s"$out/_loss_masks")
          .agg(
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.sum("n_mask_tokens"),
              org.apache.spark.sql.functions.lit(0L)
            )
          )
          .head()
          .getLong(0)
        println(
          s"[maintenance] pack export: $nm loss-mask interval(s) ($tot tokens) shipped at $out/_loss_masks"
        )
      }
      println(s"[maintenance] pack export [$from, $to): $landed packs in $shards shards at $out")
    },
    verb("release", "one-command pretraining release: curate, decontaminate, pack, vocab, export, verify")(
      req("data", "DIR"), req("eval", "DIR"), req("out", "DIR"), opt("budget", "N", "2048"),
      opt("shards", "N", "8"), opt("export_shards", "N", "8"), opt("min_keep_tokens", "N", "1"),
      opt("threshold", "X", "0.5"), opt("gate_millibits", "N", "4400"), bool("span_clean", true),
      opt("unk_id", "N"), opt("dsir_target", "DIR"), opt("dsir_keep", "N"), opt("dsir_buckets", "N"),
      bool("verify", true), opt("epochs", "N"), opt("seed", "S", "release"),
      bool("provenance", false)) { (opts, spark) =>
      // The one-command PRETRAINING DATA RELEASE: raw corpus dir ->
      // trainer-ready shards, by composing the verbs a release
      // pipeline runs stepwise — curate (quality gate -> span clean
      // -> floor -> exact dedup), decontaminate against the eval
      // corpus (report + purge), pack the survivors (batch 0 of an
      // incremental pack space, so later crawls APPEND with the same
      // state), freeze the vocab, export every emitted pack
      // hash-sharded, and (optionally) write the multi-epoch visit
      // schedule. Each step is the EXISTING verb called recursively
      // — its interlocks (budget sidecar, OOV refusal, cardinality
      // guards) all fire here too, and the layout under --out is
      // exactly what the stepwise verbs would produce:
      //   curated/ decontam_report/ clean/ pack_state/ manifests/
      //   vocab/ shards/ [schedule/] [provenance/] _release.json
      // _release.json carries the per-stage counts a release audit
      // reads (docs in -> curated -> clean, packs, vocab size,
      // landed rows) — all derived from landed data, not from
      // in-flight counters.
      val data = opts("data")
      val evalPath = opts("eval")
      val root = opts("out")
      requireFreshReleaseRoot(spark, root, "release")
      val budget = opts("budget")
      val shards = opts("shards")
      val exportShards = opts("export_shards")
      val minKeep = opts("min_keep_tokens")
      val threshold = opts("threshold")
      val gateMilliBits = opts("gate_millibits")
      val spanClean = opts("span_clean")
      timedStage("release", "curate") { run(
        Array("--maintenance", "curate", "--data", data, "--out", s"$root/curated",
          "--shards", shards, "--min_keep_tokens", minKeep,
          "--gate_millibits", gateMilliBits, "--span_clean", spanClean),
        spark
      ) }
      timedStage("release", "decontaminate") { run(
        Array("--maintenance", "decontaminate", "--train", s"$root/curated", "--eval", evalPath,
          "--out", s"$root/decontam_report", "--purged", s"$root/clean", "--threshold", threshold),
        spark
      ) }
      // Optional DSIR stage: with --dsir_target (a curated seed
      // corpus) + --dsir_keep K, the release packs only the K most
      // target-like clean documents — quality-targeted releases via
      // the existing dsir_weights/dsir_score verbs (the _buckets
      // sidecar interlock fires here too). NB the selection can only
      // keep docs that HAVE a bigram (dsir_score's documented rule);
      // the audit manifest records the selected count, so a
      // surprising cut is visible, never silent.
      val packInput = opts.get("dsir_target") match {
        case Some(tgt) =>
          val keep = opts.get("dsir_keep").getOrElse(sys.error("release: --dsir_keep N required with --dsir_target"))
          timedStage("release", "dsir_select") {
            run(
              Array("--maintenance", "dsir_weights", "--data", s"$root/clean",
                "--target", tgt, "--out", s"$root/dsir_weights") ++
                opts.get("dsir_buckets").toSeq.flatMap(b => Seq("--buckets", b)),
              spark
            )
            run(
              Array("--maintenance", "dsir_score", "--data", s"$root/clean",
                "--weights", s"$root/dsir_weights", "--out", s"$root/dsir_scores",
                "--k", keep),
              spark
            )
            import org.apache.spark.sql.functions.{col => cc}
            val kept = spark.read.parquet(s"$root/dsir_scores").select(cc("doc_id"))
            Pipeline.writeCounted(
              spark.read.parquet(s"$root/clean").join(kept, Seq("doc_id"), "left_semi"),
              s"$root/selected"
            )
          }
          s"$root/selected"
        case None => s"$root/clean"
      }
      val (man, nPacks) = packAndExport(spark, opts, root, packInput)()
      import org.apache.spark.sql.functions.{col => c, count => cnt, lit, sum => sm}
      opts.get("epochs").foreach { e =>
        run(
          Array("--maintenance", "pack_epochs", "--manifests", s"$root/manifests",
            "--out", s"$root/schedule", "--epochs", e,
            "--seed", opts("seed")),
          spark
        )
      }
      // Optional governance side-file: per-(pack, source) doc counts
      // and exact token weights over the emitted pack space — the
      // curated corpus keeps `source`, so the attribute table is the
      // clean dir itself (provenance projects id + attrs only).
      if (opts.bool("provenance")) {
        run(
          Array("--maintenance", "pack_provenance", "--manifests", s"$root/manifests",
            "--attrs", packInput, "--attr_cols", "source",
            "--out", s"$root/provenance"),
          spark
        )
      }
      // Release audit manifest — every number re-derived from what
      // actually LANDED on disk.
      val nIn = spark.read.parquet(s"$data/documents.parquet").count()
      val nCurated = spark.read.parquet(s"$root/curated").count()
      val nContam = spark.read
        .parquet(s"$root/decontam_report")
        .filter(c("contaminated"))
        .count()
      val nClean = spark.read.parquet(s"$root/clean").count()
      val nVocab = spark.read.parquet(s"$root/vocab").count()
      val totToks = man.agg(sm(c("n_toks"))).head().getLong(0)
      val landedPacks = spark.read.parquet(s"$root/shards").agg(cnt(lit(1))).head().getLong(0)
      // with the DSIR stage, the packed-corpus count rides along so a
      // surprising selection cut is visible in the audit
      val selectedField = opts.get("dsir_target") match {
        case Some(_) => s""" "dsir_selected": ${spark.read.parquet(s"$root/selected").count()},"""
        case None    => ""
      }
      val manifestJson =
        s"""{"docs_in": $nIn, "curated": $nCurated, "contaminated": $nContam, "clean": $nClean,$selectedField
           | "total_tokens": $totToks, "budget": $budget, "n_packs": $nPacks,
           | "vocab_size": $nVocab, "landed_packs": $landedPacks,
           | "export_shards": $exportShards}""".stripMargin.replace("\n", "")
      writeManifest(spark, root, "_release.json", manifestJson)
      println(
        s"[maintenance] release at $root: $nIn docs -> $nCurated curated -> $nClean clean " +
          s"($nContam contaminated purged) -> $nPacks packs ($totToks tokens) -> " +
          s"$landedPacks exported in $exportShards shards, vocab $nVocab"
      )
    },
    verb("sft_release", "one-command SFT release: render, pack, role masks, vocab, export, verify")(
      req("turns", "DIR"), req("out", "DIR"), opt("budget", "N", "2048"), opt("shards", "N", "8"),
      opt("export_shards", "N", "8"), opt("train_role", "ROLE", "assistant"),
      opt("conv_col", "COL", "conv_id"), opt("turn_col", "COL", "turn_key"), opt("role_col", "COL", "role"),
      opt("content_col", "COL", "content"), opt("unk_id", "N"), opt("parent_col", "COL"),
      opt("max_depth", "N"), opt("paths_state", "DIR"), bool("verify", true)) { (opts, spark) =>
      // The one-command SFT DATA RELEASE: a conversation-turns table
      // -> trainer-ready packed shards whose `_role_masks` sidecar
      // selects EXACTLY the train-role tokens. Composition, each
      // step the existing verb (every interlock fires here too):
      // render conversations to conv-atomic documents (turns joined
      // by single spaces, ordered by the turn key) -> pack_ingest
      // them as batch 0 of an incremental pack space -> sft_masks
      // projected through those manifests -> build_vocab ->
      // pack_export over every emitted pack. Layout under --out:
      //   rendered/ pack_state/ manifests/ role_masks/ vocab/
      //   shards/ (with shards/_role_masks) _sft_release.json
      //
      // `_role_masks` carries KEEP-loss intervals (positions the
      // trainer computes loss ON — the train_role's tokens), the
      // POLARITY OPPOSITE of pack_export's decontamination
      // `_loss_masks` (positions zeroed). The rendering contract
      // that makes the coordinates line up: tokens are whitespace
      // tokens, turns contribute their own split counts, so content
      // must not be empty or carry leading/trailing whitespace —
      // enforced loudly up front (a violating turn would shift
      // every later offset in its conversation).
      import org.apache.spark.sql.functions.{
        array_join, array_sort, col, collect_list, lit, struct, sum, transform
      }
      val turnsPath = opts("turns")
      val root = opts("out")
      requireFreshReleaseRoot(spark, root, "sft_release")
      val budget = opts("budget")
      val exportShards = opts("export_shards")
      val trainRole = opts("train_role")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val roleCol = opts("role_col")
      val contentCol = opts("content_col")
      val turns = spark.read.parquet(turnsPath)
      val nBadWs = turns
        .filter(col(contentCol).rlike("(^\\s)|(\\s$)") || col(contentCol) === "")
        .count()
      require(
        nBadWs == 0L,
        s"sft_release: $nBadWs turn(s) have empty content or leading/trailing whitespace — " +
          "the render joins turns with single spaces, so such a turn would shift every later " +
          "mask offset in its conversation; trim or drop them upstream"
      )
      // TREE MODE (--parent_col): the turn store is a branched tree —
      // flatten it first with the tree_render verb (each root→leaf
      // path becomes one synthetic conversation whose role column is
      // the EFFECTIVE role: train-role on first-visit memberships
      // only), then run the IDENTICAL chain over the path-turns
      // table. The flat chain over a branched store would train
      // nothing structurally wrong but couldn't exist (turns don't
      // order linearly); the naive per-path flatten without
      // first-visit masks would train every shared prefix once per
      // leaf — the over-weighting tree_render exists to remove.
      // Invariant the audit then shows: masked_tokens equals the
      // train-role turns' token total COUNTED ONCE EACH, exactly as
      // in flat mode, regardless of fan-out.
      // The chain tuple carries the CONTENT column too: tree_render
      // writes path_turns with canonical column names (content is
      // literally 'content'), so a non-default --content_col must
      // stop at the tree_render boundary — reusing the user's name
      // downstream would throw on the canonical table.
      val treeMode = opts.contains("parent_col")
      val (chainTurnsPath, chainConv, chainTurn, chainRole, chainContent, chainTurns) =
        if (treeMode) {
          // release the walk's scratch pins once path_turns is on
          // parquet (the dpo_release decontam lesson)
          graft.operators.Maintenance.releasingScratchPins(spark) {
            timedStage("sft_release", "tree_render") { run(
              Array("--maintenance", "tree_render", "--turns", turnsPath,
                "--out", s"$root/path_turns", "--conv_col", convCol,
                "--turn_col", turnCol, "--parent_col", opts("parent_col"),
                "--role_col", roleCol, "--content_col", contentCol,
                "--train_role", trainRole) ++
                opts.get("max_depth").toSeq.flatMap(d => Seq("--max_depth", d)) ++
                // serve memberships from a durable TreeState instead of
                // re-running the closure (the campaign-scale posture)
                opts.get("paths_state").toSeq.flatMap(s => Seq("--paths_state", s)),
              spark
            ) }
          }
          (s"$root/path_turns", "doc_id", "turn_key", "role", "content",
            spark.read.parquet(s"$root/path_turns"))
        } else (turnsPath, convCol, turnCol, roleCol, contentCol, turns)
      val rendered = chainTurns
        .groupBy(col(chainConv).as("doc_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col(chainTurn), col(chainContent)))),
              x => x.getField(chainContent)
            ),
            " "
          ).as("text")
        )
      timedStage("sft_release", "render") {
        rendered.write.mode("overwrite").parquet(s"$root/rendered")
      }
      val (man, nPacks) = packAndExport(spark, opts, root, s"$root/rendered") {
        timedStage("sft_release", "sft_masks") { run(
          Array("--maintenance", "sft_masks", "--turns", chainTurnsPath,
            "--manifests", s"$root/manifests", "--out", s"$root/role_masks",
            "--man_id_col", "doc_id", "--conv_col", chainConv, "--turn_col", chainTurn,
            "--role_col", chainRole, "--content_col", chainContent,
            "--train_role", trainRole),
          spark
        ) }
      }
      // Ship the role masks WITH the landing (underscore dir —
      // parquet readers of shards/ ignore it).
      val masks = spark.read.parquet(s"$root/role_masks")
      Pipeline.writeCounted(masks, s"$root/shards/_role_masks")
      // Audit manifest — every number from landed data. Turn counts
      // are over the ORIGINAL turn store (in tree mode the path
      // memberships multiply rows, but masked_tokens must still
      // equal the original train-role turns' token total — the
      // single-loss invariant the e2e spec checks).
      val nTurns = turns.count()
      val nDocs = spark.read.parquet(s"$root/rendered").count()
      val nConvs = if (treeMode) turns.select(col(convCol)).distinct().count() else nDocs
      val nTrainTurns = turns.filter(col(roleCol) === trainRole).count()
      val totToks = man.agg(sum(col("n_toks"))).head().getLong(0)
      val maskedToks = spark.read
        .parquet(s"$root/shards/_role_masks")
        .agg(org.apache.spark.sql.functions
          .coalesce(sum(col("n_mask_tokens")), lit(0L)))
        .head()
        .getLong(0)
      val nVocab = spark.read.parquet(s"$root/vocab").count()
      val landedPacks = spark.read.parquet(s"$root/shards").count()
      writeManifest(
        spark,
        root,
        "_sft_release.json",
        s"""{"mode": "${if (treeMode) "tree" else "flat"}", "turns_in": $nTurns,""" +
          s""" "conversations": $nConvs, "paths": $nDocs, "train_turns": $nTrainTurns,""" +
          s""" "train_role": "$trainRole", "total_tokens": $totToks,""" +
          s""" "masked_tokens": $maskedToks, "budget": $budget, "n_packs": $nPacks,""" +
          s""" "vocab_size": $nVocab, "landed_packs": $landedPacks}"""
      )
      println(
        s"[maintenance] sft release at $root: $nTurns turns / $nConvs conversations" +
          (if (treeMode) s" / $nDocs paths" else "") +
          s" -> $nPacks packs ($totToks tokens, $maskedToks loss-on under " +
          s"role=$trainRole) -> $landedPacks exported in $exportShards shards, vocab $nVocab"
      )
    },
    verb("pack_epochs", "seeded per-epoch pack permutations (the multi-epoch visit order)")(
      req("manifests", "DIR"), req("out", "DIR"), opt("epochs", "N", "1"), opt("seed", "S", "graft"),
      opt("hex_width", "N", "2"), opt("mask", "DIR")) { (opts, spark) =>
      // Multi-epoch visit-order schedule over an emitted pack space
      // (Packing.epochOrder): seeded per-epoch permutations of pack
      // ids. Reads any manifest parquet (the batch form or an
      // incremental manifest root's batch-keyed partitions — offsets
      // are global, so the union's max last_pack is the pack count).
      val manifests = opts("manifests")
      val out = opts("out")
      val epochs = opts("epochs").toInt
      val seed = opts("seed")
      val width = opts("hex_width").toInt
      val sched = graft.operators.Packing
        .epochOrder(
          spark.read.parquet(manifests),
          epochs,
          seed,
          width,
          mask = opts.get("mask").map(spark.read.parquet)
        )
      val n = Pipeline.writeCounted(sched, out)
      println(s"[maintenance] epoch schedule: $n (epoch, ord, pack) rows from $manifests into $out")
    },
    verb("pack_boundaries", "per-pack segment boundaries from manifest arithmetic")(
      req("manifests", "DIR"), req("out", "DIR"), opt("budget", "N")) { (opts, spark) =>
      // Per-pack segment/boundary side-file (Packing.boundaries):
      // attention-reset metadata per (pack, doc) overlap — manifest
      // arithmetic only, no document text read.
      val manifests = opts("manifests")
      val out = opts("out")
      // _budget sidecar: underscore-prefixed, so the parquet read
      // below ignores it as metadata while resolveBudget honors it.
      val budget = resolveBudget(spark, manifests, opts)
      val b = graft.operators.Packing
        .boundaries(spark.read.parquet(manifests), "doc_id", budget)
      val n = Pipeline.writeCounted(b, out)
      println(s"[maintenance] pack boundaries: $n segment rows from $manifests into $out")
    },
    verb("pack_resume", "the not-yet-consumed schedule tail after --step steps of --batch packs")(
      req("schedule", "DIR"), req("out", "DIR"), req("step", "N"), req("batch", "N")) { (opts, spark) =>
      // Loader restart arithmetic (Packing.resumeSlice): the
      // not-yet-consumed tail of a pack_epochs schedule after
      // --step optimizer steps of --batch packs each — a filter over
      // the schedule, so restart cost is manifest-sized at any
      // corpus scale.
      val schedDir = opts("schedule")
      val out = opts("out")
      val step = opts("step").toLong
      val batch = opts("batch").toLong
      val slice = graft.operators.Packing
        .resumeSlice(spark.read.parquet(schedDir), step, batch)
      val n = Pipeline.writeCounted(slice, out)
      println(
        s"[maintenance] resume slice: $n remaining schedule rows after step $step " +
          s"(x$batch packs) from $schedDir into $out"
      )
    },
    verb("mixture_weights", "temperature-scaled sampling weights per group from the manifest")(
      req("manifests", "DIR"), req("out", "DIR"), req("group_col", "COL"),
      opt("alpha", "X", "0.5")) { (opts, spark) =>
      // Temperature-scaled mixture weights (Packing.temperatureWeights)
      // over a stratified manifest's n_toks — per group, the p^alpha
      // sampling weight / repeat factor vs the largest group as
      // micro-ints. Manifest-fed: never re-reads text.
      val manifests = opts("manifests")
      val out = opts("out")
      val groupCol = opts("group_col")
      val alpha = opts("alpha").toDouble
      val w = graft.operators.Packing.temperatureWeights(
        spark.read.parquet(manifests),
        groupCol,
        org.apache.spark.sql.functions.col("n_toks"),
        alpha
      )
      val n = Pipeline.writeCounted(w, out)
      println(s"[maintenance] mixture weights: $n $groupCol rows (alpha=$alpha) from $manifests into $out")
    },
    verb("apportion_budget", "mixture weights to per-group token quotas summing to --budget exactly")(
      req("weights", "DIR"), req("out", "DIR"), req("group_col", "COL"), opt("weight_col", "COL", "w_micro"),
      req("budget", "N")) { (opts, spark) =>
      // Exact integer apportionment (Packing.apportionBudget):
      // mixture_weights output -> hard per-group token quotas
      // summing to --budget exactly (Hamilton largest-remainder,
      // BigInt, deterministic ties).
      val weightsPath = opts("weights")
      val out = opts("out")
      val groupCol = opts("group_col")
      val weightCol = opts("weight_col")
      val budget = opts("budget").toLong
      val q = graft.operators.Packing.apportionBudget(
        spark.read.parquet(weightsPath),
        groupCol,
        weightCol,
        budget
      )
      val n = Pipeline.writeCounted(q, out)
      println(s"[maintenance] apportioned $budget tokens over $n $groupCol quotas into $out")
    },
    verb("apportion_phases", "per-phase curriculum quotas, each phase summing to its budget exactly")(
      req("weights", "DIR"), req("out", "DIR"), opt("phase_col", "COL", "phase"), req("group_col", "COL"),
      opt("weight_col", "COL", "w_micro"), opt("budget_col", "COL", "phase_budget")) { (opts, spark) =>
      // Multi-phase curriculum quotas (Packing.apportionBudgetBy):
      // per-phase Hamilton apportionment from a (phase, group,
      // weight, budget) table — each phase's quotas sum to its
      // budget exactly.
      val weightsPath = opts("weights")
      val out = opts("out")
      val phaseCol = opts("phase_col")
      val groupCol = opts("group_col")
      val weightCol = opts("weight_col")
      val budgetCol = opts("budget_col")
      val q = graft.operators.Packing.apportionBudgetBy(
        spark.read.parquet(weightsPath),
        phaseCol,
        groupCol,
        weightCol,
        budgetCol
      )
      val n = Pipeline.writeCounted(q, out)
      val phases = spark.read.parquet(out).select(phaseCol).distinct().count()
      println(
        s"[maintenance] apportioned $phases phase budget(s) over $n ($phaseCol, $groupCol) quotas into $out"
      )
    },
    verb("pack_efficiency", "per-group tail-pack waste and wasted-compute fraction")(
      req("manifests", "DIR"), req("out", "DIR"), opt("budget", "N"),
      opt("group_col", "COL")) { (opts, spark) =>
      // Pack-space waste accounting (Packing.packEfficiency): per
      // group (or globally), the tail-pack waste and integer-exact
      // wasted-compute fraction — one agg over the manifest.
      val manifests = opts("manifests")
      val out = opts("out")
      val budget = resolveBudget(spark, manifests, opts)
      val eff = graft.operators.Packing.packEfficiency(
        spark.read.parquet(manifests),
        budget,
        opts.get("group_col").toSeq
      )
      val n = Pipeline.writeCounted(eff, out)
      println(s"[maintenance] pack efficiency: $n group rows (budget=$budget) from $manifests into $out")
    },
    verb("pack_provenance", "per (pack, attribute values): contributing docs and token weight")(
      req("manifests", "DIR"), req("attrs", "DIR"), req("out", "DIR"), req("attr_cols", "COL,.."),
      opt("budget", "N")) { (opts, spark) =>
      // Governance side-file (Packing.provenance): per (pack,
      // attribute values), contributing docs + token weight —
      // manifest × doc-attribute join, no pack data read. License
      // audits and takedown-to-pack resolution read THIS table.
      val manifests = opts("manifests")
      val attrsPath = opts("attrs")
      val out = opts("out")
      val attrCols = opts("attr_cols")
        .split(",")
        .map(_.trim)
        .filter(_.nonEmpty)
        .toSeq
      val budget = resolveBudget(spark, manifests, opts)
      val prov = graft.operators.Packing.provenance(
        spark.read.parquet(manifests),
        spark.read.parquet(attrsPath),
        "doc_id",
        budget,
        attrCols
      )
      val n = Pipeline.writeCounted(prov, out)
      println(
        s"[maintenance] pack provenance: $n (pack, ${attrCols.mkString(",")}) rows " +
          s"(budget=$budget) from $manifests into $out"
      )
    },
    verb("leakage_split", "cluster-atomic train/heldout split over the near-dup pair graph")(
      req("docs", "DIR"), req("pairs", "DIR"), req("out", "DIR"), opt("heldout_per_mille", "N", "100"),
      opt("seed", "S", "split")) { (opts, spark) =>
      // Cluster-atomic train/heldout split (Dedup.leakageFreeSplit):
      // docs + near-dup pair table -> per-doc component + side, no
      // near-dup pair ever straddling the boundary.
      val docsPath = opts("docs")
      val pairsPath = opts("pairs")
      val out = opts("out")
      val perMille = opts("heldout_per_mille").toInt
      val seed = opts("seed")
      val sp = graft.operators.Dedup.leakageFreeSplit(
        spark.read.parquet(docsPath),
        spark.read.parquet(pairsPath),
        "doc_id",
        perMille,
        seed
      )
      val n = Pipeline.writeCounted(sp, out)
      val nHeld = spark.read
        .parquet(out)
        .filter(org.apache.spark.sql.functions.col("split") === "heldout")
        .count()
      println(
        s"[maintenance] leakage-free split: $n docs, $nHeld heldout " +
          s"($perMille per-mille target, seed=$seed) into $out"
      )
    },
    verb("snapshot_diff", "per-id added/removed/changed/unchanged between two snapshots")(
      req("old", "DIR"), req("new", "DIR"), req("out", "DIR"), opt("id_col", "COL", "doc_id"),
      req("content_cols", "COL,..")) { (opts, spark) =>
      // Release diff (Maintenance.snapshotDiff): per-id added/
      // removed/changed/unchanged between two snapshots — content
      // compared by scan-side md5 fingerprints, so text never
      // shuffles; downstream incremental jobs consume the
      // added/changed slice instead of the full corpus.
      val oldPath = opts("old")
      val newPath = opts("new")
      val out = opts("out")
      val idCol = opts("id_col")
      val cols = opts("content_cols")
        .split(",")
        .map(_.trim)
        .filter(_.nonEmpty)
        .toSeq
      val diff = graft.operators.Maintenance.snapshotDiff(
        spark.read.parquet(oldPath),
        spark.read.parquet(newPath),
        idCol,
        cols
      )
      val n = Pipeline.writeCounted(diff, out)
      val byStatus = spark.read
        .parquet(out)
        .groupBy("status")
        .count()
        .collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .sorted
        .mkString(" ")
      println(s"[maintenance] snapshot diff: $n ids ($byStatus) into $out")
    },
    verb("efficiency_sweep", "pack_efficiency at every candidate budget in one manifest pass")(
      req("manifests", "DIR"), req("out", "DIR"), req("budgets", "N,.."),
      opt("group_col", "COL")) { (opts, spark) =>
      // Budget sweep (Packing.efficiencySweep): the pack_efficiency
      // arithmetic at every candidate budget in one manifest pass —
      // the table a training run reads to pick its sequence length.
      val manifests = opts("manifests")
      val out = opts("out")
      val budgets = opts("budgets")
        .split(",")
        .map(_.trim.toLong)
        .toSeq
      val sweep = graft.operators.Packing.efficiencySweep(
        spark.read.parquet(manifests),
        budgets,
        opts.get("group_col").toSeq
      )
      val n = Pipeline.writeCounted(sweep, out)
      println(
        s"[maintenance] efficiency sweep: $n (group, budget) rows over " +
          s"budgets ${budgets.sorted.mkString(",")} from $manifests into $out"
      )
    },
    verb("cluster_best", "keep each near-dup cluster's best-scoring doc, label every doc")(
      req("docs", "DIR"), req("pairs", "DIR"), req("out", "DIR"), req("score_col", "COL")) { (opts, spark) =>
      // Quality-aware survivor selection (Dedup.keepBestOfCluster):
      // keep each near-dup cluster's argmax-score copy (ties to the
      // smaller id), labeling every doc so drops stay auditable.
      val docsPath = opts("docs")
      val pairsPath = opts("pairs")
      val out = opts("out")
      val scoreCol = opts("score_col")
      val best = graft.operators.Dedup.keepBestOfCluster(
        spark.read.parquet(docsPath),
        spark.read.parquet(pairsPath),
        "doc_id",
        scoreCol
      )
      val n = Pipeline.writeCounted(best, out)
      val nKeep = spark.read
        .parquet(out)
        .filter(org.apache.spark.sql.functions.col("keep"))
        .count()
      println(
        s"[maintenance] cluster best: $n docs labeled, $nKeep survivors " +
          s"(score=$scoreCol) into $out"
      )
    },
    verb("pref_pairs", "DPO pair build: response dedup, rater triage, length debias, pair decontamination")(
      req("responses", "DIR"), req("out", "DIR"), opt("prompt_col", "COL", "prompt_id"),
      opt("id_col", "COL", "doc_id"), opt("score_col", "COL", "score"), opt("content_col", "COL"),
      opt("ratings", "DIR"), opt("dispute_range", "N", "40"), opt("rating_score_col", "COL", "score"),
      opt("len_col", "COL"), opt("bucket_width", "N", "50"), opt("contaminated", "DIR"),
      opt("contam_id_col", "COL")) { (opts, spark) =>
      // Post-training pair build (the q147-q152 family composed):
      // optional rater triage (drop disputed responses), optional
      // length debias (pair on the debiased micro score), pair
      // construction, optional pair-level decontamination — each
      // stage the library operator, with _pref.json auditing the
      // landed per-stage counts.
      import org.apache.spark.sql.functions.col
      val respPath = opts("responses")
      val out = opts("out")
      val promptCol = opts("prompt_col")
      val idCol = opts("id_col")
      val scoreCol = opts("score_col")
      val resp0 = spark.read.parquet(respPath)
      val nResp = resp0.count()
      // optional stage 0: within-prompt response dedup (identical
      // sampled completions collapse to the argmax-score survivor
      // before anything else sees them)
      val (respD, nDupDropped) = opts.get("content_col") match {
        case Some(cc) =>
          val keepIds = graft.operators.Preference
            .dedupResponses(resp0, promptCol, idCol, scoreCol, cc)
            .filter(col("keep"))
            .select(col(idCol))
          val kept = resp0.join(keepIds, Seq(idCol))
          (kept, nResp - kept.count())
        case None => (resp0, 0L)
      }
      val (resp1, nDisputed) = opts.get("ratings") match {
        case Some(rp) =>
          val range = opts("dispute_range").toLong
          val ratingScoreCol = opts("rating_score_col")
          val triage = graft.operators.Preference
            .raterAgreement(spark.read.parquet(rp), idCol, ratingScoreCol, range)
          val disputed = triage.filter(col("disputed")).select(col(idCol))
          val nD = disputed.count()
          (respD.join(disputed, Seq(idCol), "left_anti"), nD)
        case None => (respD, 0L)
      }
      val (resp2, pairScoreCol) = opts.get("len_col") match {
        case Some(lc) =>
          val bw = opts("bucket_width").toLong
          val deb = graft.operators.Preference
            .lengthDebias(resp1, idCol, scoreCol, lc, bw)
            .select(col(idCol), col("adj_micro"))
          (resp1.join(deb, Seq(idCol)), "adj_micro")
        case None => (resp1, scoreCol)
      }
      val pairs0 = graft.operators.Preference
        .preferencePairs(resp2, promptCol, idCol, pairScoreCol)
      val nPairs0 = pairs0.count()
      val pairs = opts.get("contaminated") match {
        case Some(cp) =>
          graft.operators.Preference.purgePairs(
            pairs0,
            Seq("chosen_id", "rejected_id"),
            spark.read.parquet(cp),
            opts.get("contam_id_col").getOrElse(idCol)
          )
        case None => pairs0
      }
      val n = Pipeline.writeCounted(pairs, out)
      writeManifest(
        spark,
        out,
        "_pref.json",
        s"""{"responses": $nResp, "dup_dropped": $nDupDropped, """ +
          s""""disputed_dropped": $nDisputed, """ +
          s""""pairs_built": $nPairs0, "pairs_kept": $n, """ +
          s""""score_col": "$pairScoreCol"}"""
      )
      println(
        s"[maintenance] pref pairs: $nResp responses ($nDupDropped duplicate, " +
          s"$nDisputed disputed dropped) -> " +
          s"$nPairs0 pairs built, $n kept after decontamination, into $out"
      )
    },
    verb("pref_stream", "fold arriving scored-response JSON files into the pair state")(
      req("raw", "DIR"), req("state", "DIR"), req("checkpoint", "DIR")) { (opts, spark) =>
      // Streaming preference-pair maintenance
      // (StreamingPipeline.prefIngest): tail a directory of scored-
      // response JSON files into the persistent pairIngest state —
      // the pref_pairs family's streaming arm. AvailableNow trigger:
      // drains what exists, then returns (cron-friendly).
      val raw = opts("raw")
      val state = opts("state")
      val ckpt = opts("checkpoint")
      graft.streaming.StreamingPipeline
        .prefIngest(spark, raw, state, ckpt, Schemas.prefResponses)
        .awaitTermination()
      val nPairs = drainedCount(spark, state)(graft.operators.Preference.pairsFromState(spark, state).count())
      println(s"[maintenance] pref stream drained: state at $state now holds $nPairs pair(s)")
    },
    verb("turns_stream", "fold arriving turn-batch JSON files into the tree-membership state")(
      turnsFlags: _*
    )(turnsDrain),
    verb("turns_backfill", "fold the whole turn backlog as one batch, then continue as turns_stream")(
      turnsFlags: _*
    )(turnsDrain),
    verb("win_stream", "fold arriving scored-response JSON files into the arena board state")(
      req("raw", "DIR"), req("state", "DIR"), req("checkpoint", "DIR")) { (opts, spark) =>
      // Streaming arena board (StreamingPipeline.winIngest): tail a
      // directory of scored-response JSON files into the persistent
      // winIngest state — the win_ingest verb's streaming arm.
      // AvailableNow trigger: drains what exists, then returns.
      val raw = opts("raw")
      val state = opts("state")
      val ckpt = opts("checkpoint")
      graft.streaming.StreamingPipeline
        .winIngest(spark, raw, state, ckpt, Schemas.winResponses)
        .awaitTermination()
      val nPairs = drainedCount(spark, state)(graft.operators.Preference.winMatrixFromState(spark, state).count())
      println(s"[maintenance] win stream drained: state at $state now boards $nPairs policy pair(s)")
    },
    verb("win_ingest", "fold one batch of scored responses into the arena board state")(
      req("batch", "DIR"), req("state", "DIR"), opt("prompt_col", "COL", "prompt_id"),
      opt("policy_col", "COL", "policy"), opt("score_col", "COL", "score"), opt("applied_id", "N"),
      opt("out", "DIR")) { (opts, spark) =>
      // Incremental arena board (Preference.winIngest): fold one
      // batch of scored responses into the persistent per-(prompt,
      // policy) best-score state, then (optionally) land the current
      // head-to-head matrix. Exactly-once under --applied_id via the
      // shared fold protocol; a replayed batch is a no-op by both
      // the marker and the max semilattice.
      val batchPath = opts("batch")
      val state = opts("state")
      val promptCol = opts("prompt_col")
      val policyCol = opts("policy_col")
      val scoreCol = opts("score_col")
      val appliedId = opts.get("applied_id").map(_.toLong)
      graft.operators.Preference
        .winIngest(
          spark,
          spark.read.parquet(batchPath),
          promptCol,
          policyCol,
          scoreCol,
          state,
          appliedId
        )
        .count()
      val matrix = graft.operators.Preference.winMatrixFromState(spark, state)
      val landed = opts.get("out") match {
        case Some(o) => Pipeline.writeCounted(matrix, o)
        case None    => matrix.count()
      }
      println(
        s"[maintenance] win ingest: state at $state; current matrix has $landed policy pair(s)"
      )
    },
    verb("bt_ratings", "Bradley-Terry leaderboard from exactly one of --state or --matrix")(
      opt("iters", "N", "10"), opt("state", "DIR"), opt("matrix", "DIR"),
      opt("out", "DIR")) { (opts, spark) =>
      // Arena LEADERBOARD (Preference.btRatings): Bradley-Terry
      // strengths fit from either a win_ingest state (--state, the
      // incremental arm's read) or a landed matrix parquet
      // (--matrix, winMatrix's output shape). Exact integer MM
      // iterations — same board from either arm, by the semilattice.
      val iters = opts("iters").toInt
      val matrix = (opts.get("state"), opts.get("matrix")) match {
        case (Some(s), None) =>
          graft.operators.Preference.winMatrixFromState(spark, s)
        case (None, Some(m)) => spark.read.parquet(m)
        case _ => sys.error("exactly one of --state <dir> or --matrix <parquet> required")
      }
      val ratings = graft.operators.Preference
        .btRatings(matrix, iters)
        .orderBy(org.apache.spark.sql.functions.col("rating_micro").desc)
      val landed = opts.get("out") match {
        case Some(o) => Pipeline.writeCounted(ratings, o)
        case None    => ratings.count()
      }
      println(
        s"[maintenance] bt_ratings: $iters MM iteration(s) over the matrix; " +
          s"$landed polic(ies) on the board"
      )
    },
    verb("dsir_weights", "freeze a DSIR hashed-bigram weight table from a raw and a target corpus")(
      req("data", "DIR"), req("target", "DIR"), req("out", "DIR"), opt("text_col", "COL", "text"),
      opt("buckets", "N", "1024")) { (opts, spark) =>
      // Freeze a DSIR hashed-bigram weight table (Importance
      // .ngramImportanceWeightsFrom): raw corpus + separate curated
      // target corpus -> O(buckets) parquet of smoothed target/raw
      // micro-ratios. Freezing the weights is what makes later
      // scoring stable across corpus snapshots (the frozen-model
      // discipline, as with bigram-LM gates and BPE vocabs).
      import org.apache.spark.sql.functions.col
      val dataPath = opts("data")
      val targetPath = opts("target")
      val out = opts("out")
      val textCol = opts("text_col")
      val buckets = opts("buckets").toInt
      val w = graft.operators.Importance.ngramImportanceWeightsFrom(
        spark.read.parquet(dataPath),
        spark.read.parquet(targetPath),
        textCol,
        buckets
      )
      val n = Pipeline.writeCounted(w, out)
      graft.operators.Importance.recordBuckets(spark, out, buckets)
      println(s"[maintenance] dsir_weights: $n bucket weight(s) frozen to $out")
    },
    verb("dsir_score", "score docs against frozen DSIR weights; --k keeps the top k")(
      req("data", "DIR"), req("weights", "DIR"), req("out", "DIR"), opt("text_col", "COL", "text"),
      opt("id_col", "COL", "doc_id"), opt("buckets", "N"), opt("k", "N")) { (opts, spark) =>
      // Score (and optionally select) documents against a FROZEN
      // DSIR weight table: per doc the bigram-occurrence weight sum
      // + length-normalized mean; with --k, keep the deterministic
      // top-k. New data scores against old weights without
      // re-histogramming — the campaign's arriving-data gate.
      import org.apache.spark.sql.functions.col
      val dataPath = opts("data")
      val weightsPath = opts("weights")
      val out = opts("out")
      val textCol = opts("text_col")
      val idCol = opts("id_col")
      // Bucket count resolves from the weights' _buckets sidecar —
      // an explicit --buckets must AGREE (a mismatch hashes bigrams
      // into the wrong buckets: silent garbage, so it fails loudly).
      val stored = graft.operators.Importance.storedBuckets(spark, weightsPath)
      val buckets = (opts.get("buckets").map(_.toInt), stored) match {
        case (Some(b), Some(s)) =>
          require(
            b == s,
            s"--buckets $b disagrees with the weights' recorded bucket count $s " +
              s"($weightsPath/_buckets) — scoring would mis-bucket every bigram"
          )
          b
        case (Some(b), None) => b
        case (None, Some(s)) => s
        case (None, None)    => 1024
      }
      val scored = graft.operators.Importance.importanceScores(
        spark.read.parquet(dataPath),
        idCol,
        textCol,
        spark.read.parquet(weightsPath),
        buckets
      )
      val result = opts.get("k") match {
        case Some(k) => graft.operators.Importance.selectByImportance(scored, idCol, k.toInt)
        case None    => scored
      }
      val n = Pipeline.writeCounted(result, out)
      println(s"[maintenance] dsir_score: $n doc(s) scored to $out" +
        opts.get("k").map(k => s" (top-$k kept)").getOrElse(""))
    },
    verb("dsir_stream", "DSIR-score each arriving document JSON file")(
      req("raw", "DIR"), req("weights", "DIR"), req("out", "DIR"),
      req("checkpoint", "DIR")) { (opts, spark) =>
      // Streaming DSIR scoring (StreamingPipeline.dsirScore): tail a
      // directory of document JSON files, score each against the
      // FROZEN weight table, land per-batch score dirs. AvailableNow:
      // drains what exists, then returns (cron-friendly).
      val raw = opts("raw")
      val weights = opts("weights")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      graft.streaming.StreamingPipeline
        .dsirScore(spark, raw, weights, out, ckpt, graft.schemas.Schemas.documentIngest)
        .awaitTermination()
      val nScored = drainedCount(spark, out, "score_batch=")(spark.read.option("basePath", out).parquet(out).count())
      println(s"[maintenance] dsir stream drained: $nScored scored doc row(s) under $out")
    },
    verb("chunk_stream", "chunk each arriving document JSON file into sliding token windows")(
      req("raw", "DIR"), req("out", "DIR"), req("checkpoint", "DIR"), opt("window", "N", "512"),
      opt("stride", "N", "384"), opt("model", "DIR")) { (opts, spark) =>
      // Streaming chunking (StreamingPipeline.chunkStream): tail a
      // directory of document JSON files, chunk each the moment it
      // lands — frozen-BPE model tokens with --model, whitespace
      // words without — into per-batch chunk dirs. AvailableNow:
      // drains what exists, then returns (cron-friendly). The out
      // dir's _space sidecar refuses a drain under a retrained
      // tokenizer loudly.
      val raw = opts("raw")
      val out = opts("out")
      val ckpt = opts("checkpoint")
      val window = opts("window").toLong
      val stride = opts("stride").toLong
      graft.streaming.StreamingPipeline
        .chunkStream(
          spark, raw, opts.get("model"), out, ckpt, graft.schemas.Schemas.documentIngest, window, stride
        )
        .awaitTermination()
      val nChunks = drainedCount(spark, out, "chunk_batch=")(spark.read.option("basePath", out).parquet(out).count())
      println(s"[maintenance] chunk stream drained: $nChunks chunk row(s) under $out")
    },
    verb("vocab_coverage", "smallest number of token types covering each target share of tokens")(
      req("docs", "DIR"), opt("text_col", "COL", "text"), opt("targets", "N,..", "500,900,950,990"),
      opt("out", "DIR")) { (opts, spark) =>
      // Tokenizer-sizing audit (Vocab.coverageCurve): per coverage
      // target, the smallest number of token types covering that
      // share of the token stream.
      val docsPath = opts("docs")
      val textCol = opts("text_col")
      val targets = opts("targets")
        .split(",")
        .map(_.trim.toLong)
        .toSeq
      val curve = graft.operators.Vocab
        .coverageCurve(spark.read.parquet(docsPath), textCol, targets)
      val landed = opts.get("out") match {
        case Some(o) => Pipeline.writeCounted(curve, o)
        case None =>
          curve.collect().sortBy(_.getLong(0)).foreach { r =>
            println(
              s"[maintenance]   ${r.getLong(0)} per-mille coverage: ${r.getLong(1)} " +
                s"of ${r.getLong(2)} types (stream ${r.getLong(3)} tokens)"
            )
          }
          targets.length.toLong
      }
      println(s"[maintenance] vocab_coverage: $landed target row(s)")
    },
    verb("chunk", "sliding-window chunking, in frozen-BPE tokens with --model")(
      req("docs", "DIR"), req("out", "DIR"), opt("id_col", "COL", "doc_id"), opt("text_col", "COL", "text"),
      opt("window", "N", "512"), opt("stride", "N", "384"), opt("model", "DIR")) { (opts, spark) =>
      // Sliding-window chunking (Chunking.slidingChunks /
      // bpeChunksFrozen): the embedding/retrieval and long-context
      // prep pass — overlapping token windows per document, landed
      // as the chunk table an encoder consumes. With --model the
      // windows are measured in FROZEN-BPE model tokens (what the
      // trained model actually consumes); the out dir's `_space`
      // sidecar pins the token space + model version, and a rerun
      // into the same dir under a different space is refused loudly
      // BEFORE anything is overwritten.
      val docsPath = opts("docs")
      val out = opts("out")
      val idCol = opts("id_col")
      val textCol = opts("text_col")
      val window = opts("window").toLong
      val stride = opts("stride").toLong
      val modelOpt = opts.get("model")
      val space = modelOpt match {
        case Some(m) =>
          val v = graft.operators.Bpe
            .currentVersion(spark, m)
            .getOrElse(sys.error(s"no frozen BPE model at $m (missing _current pointer)"))
          s"bpe:v$v"
        case None => "ws"
      }
      graft.operators.Chunking.recordSpace(spark, out, space)
      val docsDf = spark.read.parquet(docsPath)
      val chunks = modelOpt match {
        case Some(m) =>
          graft.operators.Chunking.bpeChunksFrozen(docsDf, idCol, textCol, m, window, stride)
        case None =>
          graft.operators.Chunking.slidingChunks(docsDf, idCol, textCol, window, stride)
      }
      // writeCounted's overwrite deletes the sidecar recorded above;
      // re-record in a finally so a crash mid-write can't leave a
      // chunk dir with data files but no space pin (a later rerun
      // under a retrained tokenizer would be silently accepted as
      // first-writer instead of refused).
      val n =
        try Pipeline.writeCounted(chunks, out)
        finally graft.operators.Chunking.recordSpace(spark, out, space)
      println(
        s"[maintenance] chunk: $n chunk(s) (window $window, stride $stride, space $space) to $out"
      )
    },
    verb("tree_paths", "flatten parent-pointer turns into per-(path, turn) memberships")(
      req("turns", "DIR"), req("out", "DIR"), opt("conv_col", "COL", "conv_id"),
      opt("turn_col", "COL", "turn_id"), opt("parent_col", "COL", "parent_id"),
      opt("max_depth", "N", "10000"), opt("max_conv_rows", "N", "2000000")) { (opts, spark) =>
      // Branched-conversation flattening (ConvTree.treePaths): a
      // parent-pointer turn store -> per-(path, turn) memberships
      // with first-visit train flags. The SFT prep step ahead of
      // rendering/masking when conversations branch.
      val turnsPath = opts("turns")
      val out = opts("out")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val parentCol = opts("parent_col")
      val maxDepth = opts("max_depth").toInt
      val paths = graft.operators.ConvTree
        .treePaths(spark.read.parquet(turnsPath), convCol, turnCol, parentCol, maxDepth,
          opts("max_conv_rows").toInt)
      val n = Pipeline.writeCounted(paths, out)
      println(s"[maintenance] tree_paths: $n path-membership row(s) to $out")
    },
    verb("tree_state", "fold an appended turn batch into the durable tree-membership state")(
      req("batch", "DIR"), req("state", "DIR"), opt("conv_col", "COL", "conv_id"),
      opt("turn_col", "COL", "turn_id"), opt("parent_col", "COL", "parent_id"),
      opt("max_depth", "N", "10000"), opt("applied_id", "N"), opt("buckets", "N", "64"),
      opt("max_conv_rows", "N", "2000000")) { (opts, spark) =>
      // Durable tree-membership fold (TreeState.fold): an APPENDED
      // turn batch folds into the persistent membership state — new
      // leaves add paths (prefixes read from the state), extensions
      // of current leaves replace their paths, first-visit flags
      // recomputed for exactly the affected turns. Exactly-once by
      // --applied_id (a replayed batch is a no-op). Every tree
      // consumer (tree_render --paths_state, branch_pairs
      // --paths_state) can then serve from the state instead of
      // re-running the pointer-doubling closure over the full store.
      val batchPath = opts("batch")
      val state = opts("state")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val parentCol = opts("parent_col")
      val maxDepth = opts("max_depth").toInt
      val folded = graft.operators.TreeState.fold(
        spark,
        spark.read.parquet(batchPath),
        convCol, turnCol, parentCol,
        state,
        opts.get("applied_id").map(_.toLong),
        maxDepth,
        opts("buckets").toInt,
        opts("max_conv_rows").toInt
      )
      println(
        s"[maintenance] tree_state: folded $batchPath; state at $state now holds " +
          s"${folded.count()} membership row(s)"
      )
    },
    verb("tree_state_reshard", "re-partition a tree state under a new bucket count")(
      req("state", "DIR"), req("buckets", "N")) { (opts, spark) =>
      // Re-partition a tree-membership state under a new conv-hash
      // bucket count (TreeState.reshard) — the escape hatch for a
      // _buckets pin sized before the store's growth was known.
      val state = opts("state")
      val n = opts("buckets").toInt
      graft.operators.TreeState.reshard(spark, state, n)
      println(s"[maintenance] tree_state_reshard: $state now partitioned over $n bucket(s)")
    },
    verb("tree_state_report", "per-bucket bytes of a tree state")(req("state", "DIR")) { (opts, spark) =>
      // Metadata-only per-bucket sizing report (TreeState.report).
      val state = opts("state")
      val rows = graft.operators.TreeState.report(spark, state)
      val total = rows.map(_._2).sum
      rows.foreach { case (s, bytes) => println(f"[tree_state_report] cv=$s%-6d $bytes%12d B") }
      println(
        f"[tree_state_report] ${rows.size}%d bucket(s), $total%d B total, " +
          f"max ${rows.map(_._2).maxOption.getOrElse(0L)}%d B"
      )
    },
    verb("lease_report", "who holds a state's writer lease")(req("state", "DIR")) { (opts, spark) =>
      // Read-only writer-lease inspection (Maintenance.leaseReport):
      // the first half of the mechanical runbook for a crashed
      // holder. Prints the holder token + host/pid/created-at (with
      // age) so an operator can check whether the holder process is
      // actually dead before lease_break.
      val state = opts("state")
      graft.operators.Maintenance.leaseReport(spark, state) match {
        case None => println(s"[lease_report] no writer lease on $state")
        case Some((token, fields)) =>
          val age = fields.get("created_at").flatMap(_.toLongOption)
            .map(c => s"${(System.currentTimeMillis() - c) / 1000}s ago")
            .getOrElse("unknown (pre-r16 lease format)")
          println(
            s"[lease_report] $state is write-leased by '$token' " +
              s"(host=${fields.getOrElse("host", "unknown")}, " +
              s"pid=${fields.getOrElse("pid", "unknown")}, created $age). " +
              "If the holder is live, wait; if it crashed with an applied id, retry it " +
              "under ITS id; otherwise `--maintenance lease_break --state " + state + "`")
      }
    },
    verb("lease_break", "remove a dead holder's writer lease older than --min_age_sec")(
      req("state", "DIR"), opt("min_age_sec", "SEC", "900")) { (opts, spark) =>
      // Loud, audited removal of a DEAD holder's writer lease
      // (Maintenance.leaseBreak) — refuses while the lease is
      // fresher than --min_age_sec (default 900: a fresh lease is
      // far more likely a live writer than a crash, and breaking a
      // live writer re-opens the lost-batch race the fence closes).
      val state = opts("state")
      val minAge = opts("min_age_sec").toLong * 1000L
      val (token, fields) = graft.operators.Maintenance.leaseBreak(spark, state, minAge)
      println(
        s"[lease_break] BROKE writer lease '$token' on $state " +
          s"(host=${fields.getOrElse("host", "unknown")}, " +
          s"pid=${fields.getOrElse("pid", "unknown")}, " +
          s"created_at=${fields.getOrElse("created_at", "unknown")}) — " +
          "verify the holder was dead; if it was live, its next mutation now races others")
    },
    verb("dpo_release", "one-command DPO release: rendered pairs, decontamination, export, verify")(
      Seq(
        req("turns", "DIR"), req("out", "DIR"), opt("shards", "N", "8"), opt("bpe_model", "DIR"),
        opt("length_batches", "N"), opt("bad", "DIR"), opt("bad_conv_col", "COL", "conv_id"),
        opt("bad_turn_col", "COL", "turn_id"), opt("eval", "DIR"), opt("eval_text_col", "COL", "text"),
        opt("threshold", "X", "0.5"), bool("verify", true)
      ) ++ dpoPassThrough: _*
    ) { (opts, spark) =>
      // The one-command DPO DATA RELEASE — the trilogy's third
      // capstone (pretraining `release`, SFT `sft_release`,
      // preference `dpo_release`): branched turn store -> rendered
      // sibling-regeneration triples (the branch_pairs --render
      // verb, every interlock firing) -> optional PAIR-LEVEL
      // DECONTAMINATION (--bad B: a (conv, turn)-keyed verdict
      // table — the decontam family's output shape for turn
      // stores; a pair is dropped when EITHER member is listed,
      // q152's any-member contract, conv-keyed because turn ids
      // are only per-conversation unique) -> hash-sharded export
      // keyed by the unique 'conv#parent' pair key (byte-stable
      // re-exports, multiplicity-sensitive content digests) ->
      // verify_export. `_dpo_release.json` audits landed counts.
      // Layout under --out: triples/ [clean/] shards/ [batches/]
      // _dpo_release.json
      import org.apache.spark.sql.functions.{broadcast, col, concat, lit}
      val turnsPath = opts("turns")
      val root = opts("out")
      val rootTriples = new org.apache.hadoop.fs.Path(s"$root/triples")
      val rootFs = rootTriples.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(
        !rootFs.exists(rootTriples),
        s"dpo_release refuses to run into $root: it already holds a triples/ landing — " +
          "a rerun would re-export shards over a landed release; use an empty --out root"
      )
      val shards = opts("shards")
      val passThrough =
        dpoPassThrough.flatMap(f => opts.get(f.name).toSeq.flatMap(v => Seq(s"--${f.name}", v)))
      // The render stage pins scratch tables (the tree walk's
      // membership pin, batch pins) that are DEAD once the triples
      // land on parquet — released at the stage boundary (measured:
      // the decontam pass ran 58-134 s under the stranded pins vs
      // ~7 s without, at the 200k-triple store-scale soak).
      graft.operators.Maintenance.releasingScratchPins(spark) {
        timedStage("dpo_release", "branch_pairs") { run(
          Array("--maintenance", "branch_pairs", "--turns", turnsPath,
            "--out", s"$root/triples", "--render", "true") ++ passThrough,
          spark
        ) }
      }
      // Downstream stages run CPU-heavy per-row work over the triples
      // (model-token metering, per-member shingle explodes — and
      // purgeAnyOf evaluates its input once per member leg), all of
      // it SCAN-side: when the landed triples collapsed to a couple
      // of files (AQE coalescing a small landing), the whole
      // decontam pass runs near-serial. Repartition ONLY when the
      // scan yields fewer splits than the configured parallelism —
      // on a real multi-split landing the gate is false and no
      // shuffle is inserted (the standing small-local-files
      // discipline; measured 58-134 s -> ~7 s on the 200k-triple
      // store-scale soak).
      val tripleScan = spark.read.parquet(s"$root/triples")
      val tripleSplits = tripleScan.rdd.getNumPartitions
      println(s"[dpo_release] triples scan: $tripleSplits split(s)")
      val triples =
        if (tripleSplits < spark.sparkContext.defaultParallelism)
          tripleScan.repartition(spark.sparkContext.defaultParallelism)
        else tripleScan
      val nPairs = triples.count()
      // MODEL-token coordinates (--bpe_model): the frozen merge
      // table meters prompt/chosen/rejected in the tokenizer space
      // the trainer optimizes — a pure per-row projection riding
      // the already-materialized triples scan (zero added shuffle),
      // version-pinned in the manifest (the chunk verb's _space
      // discipline: a release must say which tokenizer it counted
      // in, or a retrained table silently re-meters a re-export).
      val tripleTextCols = Seq("prompt", "chosen", "rejected")
      val bpeVersion = opts.get("bpe_model").flatMap(m =>
        graft.operators.Bpe.currentVersion(spark, m))
      val metered = opts.get("bpe_model") match {
        case Some(m) =>
          graft.operators.Bpe.withModelTokenCountsFrozen(triples, tripleTextCols, m)
        case None => triples
      }
      val hasBad = opts.contains("bad")
      val hasEval = opts.contains("eval")
      // conv-keyed any-member purge: the verdict table names
      // (conv, turn); either member listed poisons the pair
      val afterBad = opts.get("bad").fold(metered) { b =>
        val badConv = opts("bad_conv_col")
        val badTurn = opts("bad_turn_col")
        val bad = broadcast(
          spark.read.parquet(b)
            .select(col(badConv).as("conv_id"), col(badTurn).as("__bad_id"))
            .distinct()
        )
        Seq("chosen_id", "rejected_id").foldLeft(metered) { (acc, m) =>
          acc.join(
            bad,
            acc("conv_id") === bad("conv_id") && acc(m) === bad("__bad_id"),
            "left_anti"
          )
        }
      }
      // content decontamination (--eval): raw eval TEXT, not a
      // pre-keyed verdict — shingle containment >= threshold in ANY
      // rendered member (prompt, chosen, rejected) purges the pair.
      // Eval shingles broadcast; one member-stacked semi-join.
      val cleaned = opts.get("eval").fold(afterBad) { e =>
        graft.operators.Dedup.purgeAnyOf(
          afterBad,
          spark.read.parquet(e),
          Seq("conv_id", "parent_id"),
          tripleTextCols,
          opts("eval_text_col"),
          opts("threshold").toDouble
        )
      }
      val (exportDf, nClean) =
        if (hasBad || hasEval) {
          val n = timedStage("dpo_release", "pair_decontam") {
            Pipeline.writeCounted(cleaned, s"$root/clean")
          }
          (spark.read.parquet(s"$root/clean"), n)
        } else (metered, nPairs)
      // stage split for the audit: only needed when BOTH purges ran
      // (one extra broadcast-anti count; otherwise derived free)
      val nAfterBad =
        if (!hasBad) nPairs
        else if (!hasEval) nClean
        else timedStage("dpo_release", "bad_purge_count") { afterBad.count() }
      timedStage("dpo_release", "export") {
        graft.operators.Scale.exportShards(
          exportDf
            .withColumn(
              "pair_key",
              concat(col("conv_id").cast("string"), lit("#"), col("parent_id").cast("string"))
            ),
          "pair_key",
          shards.toInt,
          s"$root/shards"
        )
      }
      if (opts.bool("verify"))
        timedStage("dpo_release", "verify_export") {
          run(Array("--maintenance", "verify_export", "--path", s"$root/shards"), spark)
        }
      // atomic length-grouped batch manifest (q183's layout): the
      // loader-side artifact next to the shards — pairs sorted by
      // total model-token length and cut into fixed-size padded
      // batches; only (key, length) metadata enters the rank.
      val batchesAudit = opts.get("length_batches").fold("") { n =>
        require(
          opts.contains("bpe_model"),
          "dpo_release: --length_batches requires --bpe_model — the layout sorts by " +
            "MODEL-token length, which only the frozen merge table defines"
        )
        val man = graft.operators.Packing.lengthGroupedBatches(
          exportDf.withColumn(
            "total_toks",
            col("prompt_toks") + col("chosen_toks") + col("rejected_toks")
          ),
          Seq("conv_id", "parent_id"),
          "total_toks",
          n.toInt
        )
        val rows = timedStage("dpo_release", "length_batches") {
          Pipeline.writeCounted(man, s"$root/batches")
        }
        val nBatches = (rows + n.toInt - 1) / n.toInt
        s""", "batch_size": $n, "batches": $nBatches"""
      }
      // per-side length-bias audit in MODEL-token space (q181's
      // composition over the landed export): does the rater pay for
      // length in the space the trainer optimizes? Bounded: one
      // 2-group agg over the export, O(1) collect.
      val lengthAudit = if (opts.get("bpe_model").isEmpty) "" else {
        val slopes = graft.operators.Preference
          .lengthBiasSlope(
            exportDf.select(
              lit("chosen").as("side"),
              col("chosen_toks").as("toks"),
              col("chosen_score").as("score")
            ).unionByName(exportDf.select(
              lit("rejected").as("side"),
              col("rejected_toks").as("toks"),
              col("rejected_score").as("score")
            )),
            "side",
            "toks",
            "score"
          )
          .collect()
          .map(r => s""""${r.getString(0)}": ${r.getLong(2)}""")
          .mkString(", ")
        s""", "bpe_model_version": ${bpeVersion.getOrElse(-1)},""" +
          s""" "length_bias_slope_micro": {$slopes}"""
      }
      // turns_in is a parquet-footer count of the input store —
      // metadata-cheap (no data pages read), documented as such.
      val nTurns = spark.read.parquet(turnsPath).count()
      val landed = spark.read.parquet(s"$root/shards").count()
      writeManifest(
        spark,
        root,
        "_dpo_release.json",
        s"""{"turns_in": $nTurns, "pairs": $nPairs, "purged": ${nPairs - nClean},""" +
          s""" "purged_bad": ${nPairs - nAfterBad}, "purged_eval": ${nAfterBad - nClean},""" +
          s""" "clean_pairs": $nClean, "landed_rows": $landed, "shards": $shards""" +
          s"""$batchesAudit$lengthAudit}"""
      )
      println(
        s"[maintenance] dpo release at $root: $nTurns turns -> $nPairs triple(s)" +
          (if (hasBad || hasEval)
             s" (${nPairs - nAfterBad} bad-purged, ${nAfterBad - nClean} eval-purged)"
           else "") +
          s" -> $landed landed in $shards verified shards"
      )
    },
    verb("branch_pairs", "sibling-regeneration DPO pairs from a branched turn store")(
      req("turns", "DIR"), req("out", "DIR"), opt("conv_col", "COL", "conv_id"),
      opt("turn_col", "COL", "turn_id"), opt("parent_col", "COL", "parent_id"),
      opt("role_col", "COL", "role"), opt("content_col", "COL", "content"), opt("score_col", "COL", "score"),
      opt("resp_role", "ROLE", "assistant"), bool("render", false), opt("paths_state", "DIR"),
      opt("max_depth", "N", "10000")) { (opts, spark) =>
      // Tree-native DPO pairs (Preference.branchPairs /
      // ConvTree.branchPairsRendered): sibling response-role turns
      // under the same parent are regenerations of one context;
      // with per-turn scores each sibling group yields a pair.
      // --render true additionally ships the textual prompt (the
      // root→parent path) and the chosen/rejected contents — the
      // trainer-ready triple export.
      val turnsPath = opts("turns")
      val out = opts("out")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val parentCol = opts("parent_col")
      val roleCol = opts("role_col")
      val contentCol = opts("content_col")
      val scoreCol = opts("score_col")
      val respRole = opts("resp_role")
      val turnsDf = spark.read.parquet(turnsPath)
      // --paths_state serves the prompt render from the durable
      // TreeState memberships instead of re-running the closure.
      val result =
        if (opts.bool("render"))
          opts.get("paths_state") match {
            case Some(st) =>
              graft.operators.ConvTree.branchPairsRenderedFrom(
                graft.operators.TreeState.memberships(spark, st),
                turnsDf, convCol, turnCol, parentCol, roleCol, contentCol, scoreCol, respRole)
            case None =>
              graft.operators.ConvTree.branchPairsRendered(
                turnsDf, convCol, turnCol, parentCol, roleCol, contentCol, scoreCol, respRole,
                opts("max_depth").toInt)
          }
        else
          graft.operators.Preference.branchPairs(
            turnsDf, convCol, turnCol, parentCol, roleCol, scoreCol, respRole)
      val n = Pipeline.writeCounted(result, out)
      // The tie-drop contract made visible: a coarse-score rater
      // pipeline (binary thumbs) silently loses every all-tied
      // sibling group — print the shrinkage next to the pair count.
      val tiesDropped = graft.operators.Preference.branchTiesDropped(
        turnsDf, convCol, turnCol, parentCol, roleCol, scoreCol, respRole)
      println(
        s"[maintenance] branch_pairs: $n sibling-regeneration pair(s)" +
          (if (opts.bool("render")) " (rendered triples)" else "") +
          s" to $out ($tiesDropped all-tied group(s) dropped by the tie contract)"
      )
    },
    verb("tree_render", "render each root-to-leaf path as one conversation with first-visit roles")(
      req("turns", "DIR"), req("out", "DIR"), opt("conv_col", "COL", "conv_id"),
      opt("turn_col", "COL", "turn_id"), opt("parent_col", "COL", "parent_id"),
      opt("role_col", "COL", "role"), opt("content_col", "COL", "content"),
      opt("train_role", "ROLE", "assistant"), opt("max_depth", "N", "10000"),
      opt("paths_state", "DIR")) { (opts, spark) =>
      // Tree-aware SFT render prep (ConvTree.renderPaths): a
      // parent-pointer turn store -> a FLAT path-turns table the
      // existing SFT chain consumes as-is — each root→leaf path
      // becomes one synthetic conversation (`doc_id` = the path's
      // dense rank over (conv, leaf), two-pass, no global sort;
      // `turn_key` = the turn's position on the path; `role` = the
      // EFFECTIVE role: the train role exactly on first-visit
      // train-role memberships, 'context' everywhere else), so
      // downstream role masking trains every turn's tokens exactly
      // once while shared prefixes ride along in-context. Original
      // (conv_id, path_id, turn_id, orig_role, train) ride along as
      // provenance columns.
      import org.apache.spark.sql.functions.{col, struct}
      val turnsPath = opts("turns")
      val out = opts("out")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val parentCol = opts("parent_col")
      val roleCol = opts("role_col")
      val contentCol = opts("content_col")
      val trainRole = opts("train_role")
      val maxDepth = opts("max_depth").toInt
      // --paths_state serves the memberships from the durable
      // TreeState instead of re-running the closure per render.
      val rendered = opts.get("paths_state") match {
        case Some(st) =>
          graft.operators.ConvTree.renderPathsFrom(
            graft.operators.TreeState.memberships(spark, st),
            spark.read.parquet(turnsPath),
            convCol, turnCol, roleCol, contentCol, trainRole)
        case None =>
          graft.operators.ConvTree.renderPaths(
            spark.read.parquet(turnsPath),
            convCol, turnCol, parentCol, roleCol, contentCol, trainRole, maxDepth)
      }
      val pathIds = graft.operators.Vocab
        .withIds(
          rendered.select(struct(col("conv_id"), col("path_id")).as("__path")).distinct(),
          "__path",
          nParts = 32
        )
        .select(
          col("__path").getField("conv_id").as("conv_id"),
          col("__path").getField("path_id").as("path_id"),
          col("__path_id").as("doc_id")
        )
      val pathTurns = rendered
        .join(pathIds, Seq("conv_id", "path_id"))
        .select(
          col("doc_id"),
          col("pos").as("turn_key"),
          col("eff_role").as("role"),
          col("content"),
          col("conv_id"),
          col("path_id"),
          col("turn_id"),
          col("role").as("orig_role"),
          col("train")
        )
      val n = Pipeline.writeCounted(pathTurns, out)
      val nPaths = pathIds.count()
      println(
        s"[maintenance] tree_render: $n path-turn row(s) across $nPaths path(s) to $out " +
          s"(train role $trainRole, first-visit-only)"
      )
    },
    verb("decode_packs", "decode exported packs back to text through the frozen vocab")(
      req("packs", "DIR"), req("vocab", "DIR"), req("out", "DIR"), opt("from", "N"),
      opt("to", "N")) { (opts, spark) =>
      // Pack DECODE (Vocab.decodePacks): a landed integer export (or
      // any packArrays-shaped parquet) back to text through the
      // frozen vocab — the incident-response debugging verb ("what
      // is IN pack k?"). --from/--to prune to a pack-id range BEFORE
      // the decode explode, so inspecting one pack costs one pack.
      import org.apache.spark.sql.functions.col
      val packsPath = opts("packs")
      val vocabPath = opts("vocab")
      val out = opts("out")
      val packsAll = spark.read.parquet(packsPath)
      val packs = (opts.get("from").map(_.toLong), opts.get("to").map(_.toLong)) match {
        case (Some(f), Some(t)) => packsAll.filter(col("pack_id") >= f && col("pack_id") < t)
        case (None, None)       => packsAll
        case _ => sys.error("--from and --to must be passed together")
      }
      val decoded = graft.operators.Vocab
        .decodePacks(packs, spark.read.parquet(vocabPath))
      val n = Pipeline.writeCounted(decoded, out)
      println(s"[maintenance] decode_packs: $n pack(s) decoded to $out")
    },
    verb("sft_masks", "trainable-turn loss-mask intervals, pack-local with --manifests")(
      req("turns", "DIR"), req("out", "DIR"), opt("conv_col", "COL", "conv_id"),
      opt("turn_col", "COL", "turn_key"), opt("role_col", "COL", "role"),
      opt("content_col", "COL", "content"), opt("train_role", "ROLE", "assistant"), opt("manifests", "DIR"),
      opt("budget", "N"), opt("man_id_col", "COL", "conv_id")) { (opts, spark) =>
      // SFT loss-mask side-file (Preference.roleMaskIntervals, then
      // optionally Packing.projectIntervals through a pack layout):
      // per trainable turn its token interval — conversation-local
      // without --manifests, pack-local [0, budget) with.
      import org.apache.spark.sql.functions.col
      val turnsPath = opts("turns")
      val out = opts("out")
      val convCol = opts("conv_col")
      val turnCol = opts("turn_col")
      val roleCol = opts("role_col")
      val contentCol = opts("content_col")
      val trainRole = opts("train_role")
      val iv = graft.operators.Preference.roleMaskIntervals(
        spark.read.parquet(turnsPath),
        convCol,
        turnCol,
        roleCol,
        contentCol,
        trainRole
      )
      opts.get("manifests") match {
        case Some(mp) =>
          val budget = resolveBudget(spark, mp, opts)
          // --man_id_col: the manifest's document-id column when the
          // conversations were packed under a different key name
          // (pack_ingest emits doc_id-keyed manifests).
          val manIdCol = opts("man_id_col")
          val manDf0 = spark.read.parquet(mp)
          val manDf =
            if (manIdCol == "conv_id") manDf0
            else manDf0.withColumnRenamed(manIdCol, "conv_id")
          val masks = graft.operators.Packing.projectIntervals(
            manDf,
            iv,
            "conv_id",
            budget,
            carryCols = Seq(turnCol)
          )
          val n = Pipeline.writeCounted(masks, out)
          println(
            s"[maintenance] sft masks: $n pack-local [0, $budget) interval(s) " +
              s"for role=$trainRole -> $out"
          )
        case None =>
          val n = Pipeline.writeCounted(iv, out)
          println(
            s"[maintenance] sft masks: $n conversation-local interval(s) " +
              s"for role=$trainRole -> $out"
          )
      }
    },
    verb("verify_export", "recompute landed shard counts and digests against the export manifest")(
      req("path", "DIR"), opt("out", "DIR")) { (opts, spark) =>
      // Landing integrity check (Scale.verifyExport): recompute each
      // shard's row count and order-independent content digest from
      // the landed files and compare against the export's own
      // __manifest — the post-copy check a release pipeline runs,
      // and a scheduled bitrot scan for cold shards. Exits nonzero
      // (require) on any corrupt shard, naming it.
      import org.apache.spark.sql.functions.col
      val path = opts("path")
      val report = graft.operators.Scale.verifyExport(spark, path)
      opts.get("out").foreach(o => Pipeline.writeCounted(report, o))
      val bad = report.filter(!col("ok")).collect()
      require(
        bad.isEmpty,
        s"verify_export: ${bad.length} corrupt shard(s) in $path: " +
          bad.map(r => s"shard=${r.getInt(0)} rows ${r.getLong(2)}/${r.getLong(1)} " +
            s"digest ${r.getLong(4)}/${r.getLong(3)}").mkString("; ")
      )
      val n = report.count()
      println(s"[maintenance] verify_export: $n shard(s) in $path verified, all ok")
    },
    verb("compact_partitions", "compact every partition dir holding at least --min_files files")(
      req("path", "DIR"), opt("target_mb", "MB", "128"), opt("min_files", "N", "2")) { (opts, spark) =>
      // Scheduled read-optimize for a hive-partitioned state dir
      // whose partitions accumulate one file per ingest batch (the
      // IVF assignments layout, batch-keyed telemetry, ...):
      // Maintenance.compactPartitioned rewrites every dir above the
      // file-count threshold in one job and swaps dirs in two
      // renames each (crash-healed on the next run's entry; fenced
      // by a `<path>.__writer` lease since r16). NOTE the lease is
      // on the GIVEN path — when the dir belongs to a composite
      // state whose ingest fences on its own root (the IVF index
      // leases `<index>`, not `<index>/assignments`), schedule this
      // verb in the ingest's quiet window or use the owner's
      // compaction entry point (TextIndex.compactIndex root-fences
      // for exactly this reason).
      val path = opts("path")
      val targetMb = opts("target_mb").toLong
      val minFiles = opts("min_files").toInt
      val n = graft.operators.Maintenance
        .compactPartitioned(spark, path, targetMb * 1024 * 1024, minFiles)
      println(s"[maintenance] compacted $n fragmented partition dir(s) in $path")
    },
    verb("span_state_report", "sizing snapshot and re-shard advice for a span state")(
      req("state", "DIR"), opt("target_task_mb", "MB", "512")) { (opts, spark) =>
      // Sizing snapshot of a span state from its _segs manifests —
      // pure metadata (Maintenance.spanStateReport); prints the
      // re-shard recommendation under the SCALE.md sizing rule.
      val state = opts("state")
      val target = opts("target_task_mb").toLong * 1024 * 1024
      val r = graft.operators.Maintenance.spanStateReport(spark, state, target)
      println(
        s"[maintenance] span state report: buckets=${r.buckets} totalKiB=${r.totalBytes / 1024} " +
          s"maxBucketKiB=${r.maxBucketBytes / 1024} p50BucketKiB=${r.p50BucketBytes / 1024} " +
          s"maxSegments=${r.maxSegments} recommendedBuckets=${r.recommendedBuckets}" +
          (if (r.recommendedBuckets > 2 * r.buckets || r.buckets > 2 * r.recommendedBuckets)
             s" -- consider span_state_compact --buckets ${r.recommendedBuckets}"
           else "")
      )
    },
    verb("span_state_compact", "merge a span state's segments; --buckets re-shards it")(
      req("state", "DIR"), opt("buckets", "N"), opt("target_task_mb", "MB", "512")) { (opts, spark) =>
      // Read-optimize a segmented span-hash state: merge every
      // partition's segments down to one (Maintenance.compactSpanState
      // — crash-safe two-phase commit, idempotent to re-run).
      // --buckets N RE-SHARDS the state under a new hash-prefix
      // bucket count (the escape hatch for a creation-time
      // mis-sizing; view/probes/marker invariant). --target_task_mb
      // sizes writer tasks by bytes, never one-per-bucket.
      val state = opts("state")
      val nbOpt = opts.get("buckets").map(_.toInt)
      val target = opts("target_task_mb").toLong * 1024 * 1024
      val (done, total) =
        graft.operators.Maintenance.compactSpanState(spark, state, nbOpt, target)
      println(s"[maintenance] span state compact: $done of $total partitions rewritten in $state")
    },
    verb("drift_manifest", "refresh a drifting archive's _schemas manifest")(
      req("root", "DIR")) { (opts, spark) =>
      // Refresh a drifting archive's `_schemas` manifest
      // (Drift.writeSchemaManifest): after this, readConformed's
      // plan-time driver cost is one small file read instead of a
      // footer read per batch dir — the scheduled twin of the ingest
      // job appending its own line.
      val root = opts("root")
      val n = graft.sources.Drift.writeSchemaManifest(spark, root)
      println(s"[maintenance] drift manifest for $root: $n batch dir(s) recorded")
    }
  )

  private val cli = new Cli.Table("maintenance", etl, verbs)
}
