package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // As GraftSession: TIMESTAMP(NANOS) event archives read as BIGINT nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Per-execution eager shuffle-file removal
      // (spark.sql.classic.shuffleDependency.fileCleanup.enabled) was
      // TRIED for the r15 driver residual and measured HARMFUL, so it
      // stays off: composition rows issue many actions over the same
      // DataFrames and rely on cross-action shuffle reuse (skipped map
      // stages against registered map output) — eager removal at each
      // execution's end forces those stages to recompute (A/B on this
      // box: q108 warm reps 9.3 -> 15.2 s (+60%), q105 2.6 -> 4.4 s;
      // SCALE.md round 16). Dead-shuffle/broadcast reclamation is
      // instead driven to completion BETWEEN reps (see evictMemo).
      // The env knob stays for triage A/Bs.
      .config(
        "spark.sql.classic.shuffleDependency.fileCleanup.enabled",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CLEANUP", "false"))
      // Make the ContextCleaner's shuffle removals synchronous on its
      // thread (default false): paired with the explicit GC below, a
      // rep starts only after the previous rep's dead shuffles are
      // actually gone, not merely enqueued.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional durable-feature mode (SPARK_GRAFT_FEATURES_DIR): write the
    // shared text-feature tables to parquet once, untimed, and bench
    // every consumer against the disk-backed read — proving the durable
    // path at bench scale, not just in TextOpsSpec. Default mode keeps
    // the localCheckpoint memo (rebuilt per rep, see evictMemo below).
    val featuresDir = sys.env.get("SPARK_GRAFT_FEATURES_DIR")
    featuresDir.foreach { fdir =>
      graft.queries.TextQueries.materializeFeatures(spark, sfDir, fdir)
    }
    // Memo policy: the session-keyed feature memo is EVICTED before
    // every timed rep, uniformly for all queries. Without this, a rep
    // can measure a lookup of state a previous rep materialized — q21's
    // memoized pair table made its min-of-3 a 150x cache-hit artifact
    // (per-rep 1.65/0.011/0.011 s). In durable-feature mode the memo is
    // re-pointed at the parquet tables instead (lazy reads — each rep
    // honestly re-reads the durable copy, which is the 100 TB shape).
    def evictMemo(drain: Boolean = false): Unit = {
      graft.queries.TextQueries.clearFeatureMemo()
      // Drop every cached/localCheckpoint'd RDD the previous rep left
      // behind. Operators pin intermediate state with localCheckpoint
      // (Vocab.withIds, Bpe.learnMerges, packIngest, decontaminate, the
      // memo itself) and rely on GC-driven ContextCleaner reclamation —
      // correct for a job that exits, but across a 131-query suite the
      // pins accumulate until GC happens to run, so mid-suite queries
      // can execute under storage-memory pressure on a tight-memory box
      // (the BENCH_r09 q65-q70 cluster signature: 2.7-5.3x on files
      // untouched that round, not reproducible in isolation). Explicit
      // eviction makes rep isolation deterministic instead of
      // GC-timing-dependent.
      // BLOCKING eviction (round 15): with blocking=false the call
      // returns before the block manager actually removes anything, so
      // the removal work (and its memory churn) lands INSIDE the next
      // rep's timed window — coupling each query's measurement to its
      // alphabetical predecessor's pin volume (the standing suspect
      // for q183 reading 2.2x its isolated cost right after q182's
      // heavy decontam pins, three reps in a row, while isolation
      // reads it at 3.8 s ≤ its superset q184). Blocking puts the
      // removal cost outside t0 where rep isolation demands it.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // Broadcast blocks and DEAD shuffle files (earlier queries' —
      // their DataFrames are unreachable once their reps finish) are
      // reclaimed by ContextCleaner only when GC collects their
      // references; across a 186-query suite they otherwise accumulate
      // until GC happens to run — cross-query state the r15 blocking
      // unpersist() could not touch and the remaining suspect for the
      // driver box's in-suite-vs-isolated residual on the DPO band.
      // One explicit GC before each query's FIRST rep (drain=true)
      // enqueues that reclamation, and the short settle lets the
      // cleaner thread (shuffle removals blocking, see session conf)
      // finish it BEFORE t0. First-rep-only is deliberate, measured:
      // a full GC leaves ~0.15-0.2 s of post-GC warmup INSIDE the next
      // timed window (A/B on five sub-second rows: 0.62-0.69 s with a
      // per-rep GC vs 0.41-0.62 without), so draining before every rep
      // taxed each query's MINIMUM; before rep 1 the tax rides the
      // already-cold rep that min-of-3 discards, while reps 2-3 run
      // GC-free and carry only their own rep's garbage. NOTE eager
      // per-execution shuffle cleanup is the wrong tool entirely — it
      // breaks cross-ACTION reuse inside a live query (see session
      // conf comment); GC-driven cleanup only ever removes shuffles
      // whose plans are unreachable, which is exactly the dead set.
      // (SPARK_GRAFT_BENCH_GC=false skips the drain — the A/B knob.)
      if (drain && !sys.env.get("SPARK_GRAFT_BENCH_GC").contains("false")) {
        System.gc()
        Thread.sleep(200)
      }
      featuresDir.foreach(fdir => graft.queries.TextQueries.pointFeaturesAt(spark, sfDir, fdir))
    }
    // Optional subset run (SPARK_GRAFT_BENCH_FILTER, comma-separated
    // query names): the A/B-worktree discipline needs to re-measure a
    // handful of queries at two commits on the same box without paying
    // a full-suite run; unknown names fail loudly so a typo can't
    // silently bench nothing.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.split(",").map(_.trim).toSet)
    val suite: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      filter match {
        case None => SparkEntry.queries
        case Some(names) =>
          val unknown = names -- SparkEntry.queries.keySet
          require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_FILTER names unknown queries: ${unknown.mkString(",")}")
          SparkEntry.queries.view.filterKeys(names).toMap
      }
    // Warmup at the smallest SF: the first execution of each plan shape
    // pays JIT + codegen compilation (measured ~4s on the first window
    // query, 0.6s steady-state) — irrelevant on a long-lived cluster,
    // so keep it out of the timed numbers.
    suite.foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench-warmup] $name: ${e.getMessage}") }
    }
    // Force FULL evaluation with the noop sink: a count() would let
    // Catalyst prune per-row compute out of pure-projection queries.
    // Each query runs REPS times and the MIN over SUCCESSFUL reps is
    // reported: a single-shot measurement cannot distinguish a plan
    // regression from a noisy co-tenant window (BENCH_r03 recorded a
    // phantom 2.6x slowdown from machine contention; an idle re-run of
    // the same commit was 51 s vs the driver's 127 s). A rep that
    // throws is recorded as failed — never as a (fast) elapsed time.
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").trim.toInt)
      .toOption.map(_.max(1)).getOrElse {
        System.err.println("[bench] malformed SPARK_GRAFT_BENCH_REPS, using 3")
        3
      }
    val perRep: Seq[(String, Seq[Option[Double]])] =
      suite.toSeq.sortBy(_._1).map { case (name, fn) =>
        val times = (1 to reps).map { r =>
          evictMemo(drain = r == 1)
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}"); false }
          if (ok) Some((System.nanoTime() - t0) / 1e9) else None
        }
        name -> times
      }
    val results = perRep.flatMap { case (name, ts) =>
      val good = ts.flatten
      if (good.nonEmpty) Some(name -> good.min) else None
    }.toMap
    val failed = perRep.collect { case (name, ts) if ts.flatten.isEmpty => name }
    // STANDING isolation watchlist: after the full suite, re-measure
    // the rows with a history of suite-order drift (q183 read 8.3 s
    // in-suite on the r14 driver while its strict SUPERSET q184 read
    // 3.7 s — a bound no intrinsic cost can violate; q105 bounced
    // 2.5-8.6 s across four rounds of triage, all attributed to
    // environment post-hoc). Publishing the same-run isolation number
    // IN the bench artifact makes the attribution in-artifact: if the
    // in-suite number is high while the isolation number is low, the
    // gap is bench-order/fs state, not the query's plan. Skipped under
    // a subset filter (the watchlist is a full-suite diagnostic).
    // Round 16 adds q184 (same fs-sensitive family as q183, second-
    // slowest r15 driver row at 7.4 s vs builder 3.0-3.7, previously
    // unattributable) and q108 (rose three driver rounds running,
    // 10.0 -> 10.06 -> 11.56, while ProfileCurate attribution says the
    // floor is flat — the isolation row decides regression vs suite
    // state in-artifact).
    val watchlist = Seq(
      "q183_dpo_length_batches",
      "q184_dpo_batch_padding",
      "q105_incremental_spans",
      "q108_curate_steady"
    ).filter(suite.contains)
    val isolation: Map[String, Double] =
      if (filter.isDefined) Map.empty
      else
        watchlist.flatMap { name =>
          val times = (1 to reps).flatMap { r =>
            evictMemo(drain = r == 1)
            val t0 = System.nanoTime()
            // NonFatal ONLY (r15 advice): a fatal error here (OOM,
            // NoClassDefFound) must fail the bench run, not degrade it
            // to a healthy-looking artifact missing one isolation key.
            try { suite(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9) }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench-isolation] $name: ${e.getMessage}"); None }
          }
          times.minOption.map(name -> _)
        }.toMap
    // 3-decimal rounding keeps the per-query line compact; the raw
    // nanosecond noise below 1ms is measurement jitter anyway.
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Plain vs composition split (SparkEntry.compositionQueries): the
    // composition rows time durable multi-batch state folds / in-query
    // training by design and track scratch-fs throughput — publishing
    // the two sums separately keeps the perf gate readable as "plain
    // operators X s, durable compositions Y s" without re-deriving the
    // taxonomy from COVERAGE.md.
    val (compRows, plainRows) = results.partition { case (k, _) =>
      SparkEntry.compositionQueries.contains(k)
    }
    val familiesJson =
      s"""{"plain":{"n":${plainRows.size},"sec":${r3(plainRows.values.sum)}},""" +
        s""""composition":{"n":${compRows.size},"sec":${r3(compRows.values.sum)}}}"""
    // Cold/warm split: rep 1 pays OS page-cache and block-manager
    // population on top of the query; later reps are the long-lived-
    // cluster steady state. Both sums are published so either envelope
    // can be graded. (The memo is evicted before EVERY rep, so the
    // spread is I/O and JIT residue — never a memoized-result hit.)
    val totalCold = perRep.flatMap(_._2.headOption.flatten).sum
    // Contention self-identification: spread = max/min over a query's
    // successful reps. Queries here share no state across reps (the
    // memo is evicted), so steady-state spread is I/O + JIT residue.
    // Two variants are published because rep 1 alone legitimately
    // carries ~2-3x of page-cache/JIT cold-start even on an idle
    // machine: `spread`/`max_spread` cover all reps (the cold-start
    // observable), while `max_spread_warm` drops rep 1 and is the
    // CONTENTION signal — warm reps of a stateless query only diverge
    // when a co-tenant interferes (the BENCH_r03/r05 signature: driver
    // reps growing monotonically 2-6x late in the run, none of it
    // reproducible idle). Read max_spread_warm >> 2 as a contaminated
    // run: judge it on min-of-reps only, or re-run idle.
    def spreadOf(sel: Seq[Option[Double]] => Seq[Double]): Map[String, Double] =
      perRep.flatMap { case (name, ts) =>
        val good = sel(ts)
        if (good.size >= 2 && good.min > 0) Some(name -> good.max / good.min) else None
      }.toMap
    val spreads = spreadOf(_.flatten)
    val spreadsWarm = spreadOf(_.drop(1).flatten)
    val maxSpread = if (spreads.nonEmpty) spreads.values.max else 1.0
    val maxSpreadWarm = if (spreadsWarm.nonEmpty) spreadsWarm.values.max else 1.0
    // Throttle events self-identify IN the artifact (round 16): a warm
    // spread above 4x on a stateless query is a co-tenant/throttle
    // signature, never a plan property (r15's driver run had q127 rep 3
    // at 82.4 s vs rep 1's 4.9 s, q52 at 9.1 vs 1.4, q128 at 17.8 vs
    // 1.4 — on files untouched that round). Publishing the flagged rows
    // makes a future "regression" on any of them machine-readably
    // "contaminated rep: judge min-of-reps only / re-run idle" at
    // artifact-read time, instead of a triage item a round later.
    val contaminated = spreadsWarm.collect { case (k, v) if v > 4.0 => k }.toSeq.sorted
    val spreadJson = spreads.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // Per-rep raw timings go to bench_out.json only (the stdout line
    // stays compact); min-of-reps is what the driver grades on.
    val repsJson = perRep.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(_.map(r3).getOrElse("null")).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contaminatedJson = contaminated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isolationJson = isolation.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","reps":$reps,"policy":"evict_memo_between_reps","total_cold":${r3(totalCold)},"max_spread":${r3(maxSpread)},"max_spread_warm":${r3(maxSpreadWarm)},"contaminated":$contaminatedJson,"families":$familiesJson,"failed":$failedJson,"isolation":$isolationJson,"queries":$qs,"spread":$spreadJson,"per_rep":$repsJson,"sf":"$sfDir"}"""
    // The driver captures only the TAIL of stdout; with 73 queries the
    // single full line is ~2KB and its head gets truncated (BENCH_r01/r02
    // recorded parsed:null). Print the full line first for humans /
    // bench_out.json, then a SHORT summary line LAST so a complete JSON
    // object always survives tail truncation.
    val short = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"max_spread":${r3(maxSpread)},"max_spread_warm":${r3(maxSpreadWarm)},"contaminated":$contaminatedJson,"families":$familiesJson,"isolation":$isolationJson,"sf":"$sfDir"}"""
    println(full)
    // sbt prefixes every stdout line with "[info] ", which breaks the
    // driver's JSON parse. Write the full line to a file the driver (or a
    // human) can read verbatim.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: ${e.getMessage}") }
    println(short)
    spark.stop()
  }
}
