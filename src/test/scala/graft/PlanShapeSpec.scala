package graft

import graft.queries.CoreQueries
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that make these queries scale
  * must stay in the physical plan, not just in intent.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-plan-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2: filter and projection pushed to the parquet scan") {
    val plan = planOf(CoreQueries.q2FilterProject(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), plan)
    assert(!plan.contains("props:string,"), "no over-read columns")
  }

  test("q1: shipdate predicate reaches the scan; aggregate is partial+final") {
    val plan = planOf(CoreQueries.q1PricingSummary(spark, sf))
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q12: dims auto-broadcast under the size threshold (no hints in the query)") {
    // The query carries NO broadcast() hints — at this sf every dim sits
    // under autoBroadcastJoinThreshold so Catalyst must pick BHJ on its
    // own, and the fact side's only shuffle is the final group-by. Above
    // threshold the same query degrades safely (AQE may re-upgrade),
    // which a forced hint would forbid.
    val plan = planOf(CoreQueries.q12StarJoin(spark, sf))
    assert(plan.split("BroadcastHashJoin").length >= 5, s"dims should auto-broadcast at this sf:\n$plan")
    assert(
      plan.split("Exchange hashpartitioning").length == 2,
      s"only the final groupBy may shuffle the fact side:\n$plan"
    )
  }

  test("q26: IVF assignment is an aggregation — no window above the centroid cross join") {
    val plan = planOf(queries.VectorQueries.q26IvfAnn(spark, sf))
    // Count actual Window exec nodes ("Window [" — WindowGroupLimit is a
    // top-k pushdown helper, not a window shuffle, and doesn't count).
    assert(
      plan.split("Window \\[").length == 2,
      s"exactly one Window (the per-query top-k) expected:\n$plan"
    )
    assert(plan.contains("max_by"), s"argmax assignment should plan as max_by aggregate:\n$plan")
  }

  test("q9: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf(CoreQueries.q9TopK(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q10: per-group top-k gets the WindowGroupLimit pushdown") {
    // Spark rewrites `row_number over w <= k` into a group-limit that
    // drops rows BEFORE the window sort — per-partition state is k rows,
    // not the whole group. The filter shape must keep qualifying.
    val plan = planOf(CoreQueries.q10WindowRank(spark, sf))
    assert(plan.contains("WindowGroupLimit"), s"group-limit pushdown expected:\n$plan")
  }

  test("q24: brute-force ANN keeps the native dot product in the plan") {
    val plan = planOf(queries.VectorQueries.q24KnnBrute(spark, sf))
    assert(plan.contains("graft_dot"), s"native expression expected:\n$plan")
  }

  test("q55: chunking is a pure projection — no keyed shuffle") {
    // The only allowed Exchange is docs()' gated round-robin
    // repartition (a local under-parallelism fix, off at corpus scale);
    // the chunk grid itself must never hash- or range-shuffle.
    val plan = planOf(queries.TextQueries.q55Chunk(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"), s"chunk grid must not shuffle:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"chunk grid must not sort-shuffle:\n$plan")
  }

  test("q57: z-values shuffle nothing but the 1-row min/max aggregate") {
    val plan = planOf(CoreQueries.q57Zorder(spark, sf))
    // The only exchanges allowed are the scalar min/max agg (single
    // partition) and its broadcast — the lineitem side itself never
    // hash-shuffles.
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), s"fact side must not shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"min/max scalars must arrive by broadcast:\n$plan")
  }

  test("q87: rides the shared dup-position table — no explode of its own") {
    // q87's numerator is a per-doc COUNT of the shared duplicated-
    // position feature (memoized/durable) — its own plan must start
    // from the materialized table: no corpus explode, no Expand.
    val plan = planOf(queries.TextQueries.q87DupSpanCross(spark, sf))
    assert(
      !plan.contains("Generate"),
      s"q87 must ride the shared dup-position table, not re-explode:\n$plan"
    )
    assert(!plan.contains("Expand"), s"no Expand (countDistinct) allowed:\n$plan")
  }

  test("q101: feature pass is a skew-safe agg + semi probe; consumers never re-explode") {
    // The shared dup-position pass (round-16 shape): ONE per-hash
    // min/max aggregate (skew-safe: map-side partial combine collapses
    // a task's instances of any Zipf-head hash to one row before the
    // exchange) computes the cross-doc-duplicated hash set, which
    // LEFT-SEMI probes the positional pass. No window at all — the
    // previous hot/cold split existed because AQE cannot split a
    // window partition; a semi join puts residual skew where AQE's
    // skew rule CAN split it. Exactly two positional passes (stats +
    // probe), never a countDistinct Expand.
    val feature = planOf(queries.TextQueries.dupPositionsDf(spark, sf))
    val explodes = "Generate posexplode".r.findAllIn(feature).length
    assert(explodes == 2, s"expected stats + probe posexplodes, got $explodes:\n$feature")
    assert(!feature.contains("Window"), s"no window over the span hash (skew):\n$feature")
    assert(feature.contains("LeftSemi"), s"dup verdict must be a semi probe:\n$feature")
    assert(!feature.contains("Expand"), s"no Expand (countDistinct) allowed:\n$feature")
    val q101 = planOf(queries.TextQueries.q101DupExtents(spark, sf))
    assert(
      !q101.contains("Generate posexplode"),
      s"q101 must ride the shared dup-position table, not re-explode:\n$q101"
    )
  }

  test("q104/q105: extent consumers keep the single-pass contract — no Expand") {
    // q104 adds an extent agg + a doc_id join back over the SHARED
    // dup-position table — its own plan must not re-explode the corpus
    // (the feature pass's single-explode property is locked in the q101
    // test) nor plan a countDistinct Expand. q105 executes eagerly
    // against a scratch state, so its per-batch shape is covered by the
    // same feature-pass lock.
    for (
      (name, df) <- Seq(
        "q102" -> queries.TextQueries.q102SourceReputation(spark, sf),
        "q104" -> queries.TextQueries.q104SpanClean(spark, sf)
      )
    ) {
      val plan = planOf(df)
      assert(
        !plan.contains("Generate posexplode"),
        s"$name must ride the shared dup-position table, not re-explode:\n$plan"
      )
      assert(!plan.contains("Expand"), s"$name: no Expand (countDistinct) allowed:\n$plan")
    }
  }

  test("q103: the manifest shuffles once, on the shard key") {
    // One hash exchange (the shard window); the per-doc hash and the
    // running char budget are computed inside that partition — a global
    // sort or a second keyed exchange would not survive 100 TB.
    val plan = planOf(queries.TextQueries.q103ShuffleManifest(spark, sf))
    assert(
      plan.split("Exchange hashpartitioning").length == 2,
      s"exactly one hash shuffle (shard) expected:\n$plan"
    )
    assert(!plan.contains("Exchange rangepartitioning"), s"no global sort allowed:\n$plan")
  }

  test("q106: one bigram explode via exchange reuse — no count window on a raw token key") {
    // The LM count tables (c12 over (w1,w2), c1 over (w1)) must be
    // ROLLUPS of the (doc_id,w1,w2) pre-aggregation joined back — a
    // count window partitioned on a Zipf-skewed unigram key buffers
    // every instance of a head token in ONE task (WindowExec
    // materializes the partition, and AQE cannot split a window
    // partition — its skew rule applies to joins only). The explode
    // must still run exactly once: every branch rides the pre-agg's
    // exchange (AQE applies the reuse at runtime; disable it so the
    // static rule makes the property visible, as in q74/q92).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(queries.TextQueries.q106LmSurprisal(spark, sf))
      val explodes = "Generate explode".r.findAllIn(plan).length
      assert(explodes == 1, s"expected exactly 1 explode, got $explodes:\n$plan")
      assert(plan.contains("ReusedExchange"), s"count rollups must reuse the pre-agg exchange:\n$plan")
      assert(!plan.contains("Window ["), s"no count window on a Zipf-skewed token key:\n$plan")
      assert(!plan.contains("Expand"), s"no Expand (countDistinct) allowed:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q110: packing prefix sum is two-pass — no global window, offsets broadcast") {
    // The global token offset must come from a shard-partitioned
    // running sum plus driver-prefixed per-shard offsets. A single
    // Window.orderBy over the corpus (one task materializing every
    // row) anywhere in the plan is the scale bug this query exists to
    // avoid.
    val df = queries.TextQueries.q110SequencePacking(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the packing plan")
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"shard offsets must broadcast-join back:\n$plan")
  }

  test("q111: pack window prunes before the explode; no global window") {
    // Materializing pack k must explode only the docs overlapping the
    // pack window (the manifest prune), never the corpus: one explode,
    // fed by the pruned join, and the same no-unpartitioned-window
    // contract as q110.
    val df = queries.TextQueries.q111PackSlices(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the pack-slice plan")
    val plan = planOf(df)
    val explodes = "Generate posexplode".r.findAllIn(plan).length
    assert(explodes == 1, s"expected exactly 1 explode:\n$plan")
    // the explode's input must already be joined against the pruned
    // manifest — i.e. the join sits BELOW the Generate in the plan tree
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(
      gen.exists(_.child.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty),
      "explode must consume the manifest-pruned join, not the raw corpus"
    )
  }

  test("q113: stratified packing keeps the two-pass shape — no global window, offsets broadcast") {
    val df = queries.TextQueries.q113MixturePacking(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the stratified packing plan")
    assert(planOf(df).contains("BroadcastHashJoin"), "group offsets must broadcast-join back")
  }

  test("q117/q118: BPE-weighted manifest and budget selection keep the packing locks") {
    // q117 (BPE-weighted packing): the weight swap must not reintroduce
    // a global window; shard offsets still broadcast back.
    val m = queries.TextQueries.q117BpeWeightedPacking(spark, sf)
    val mw = m.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(mw.isEmpty, "unpartitioned window in the BPE-weighted manifest plan")
    assert(planOf(m).contains("BroadcastHashJoin"), "shard offsets must broadcast-join back")
    // q118 (token-budget selection): the recipe table must broadcast —
    // a shuffled budget join over the layout would be a per-row
    // exchange for a dozens-row table.
    val s = queries.TextQueries.q118TokenBudgetMix(spark, sf)
    val sw = s.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(sw.isEmpty, "unpartitioned window in the budget-selection plan")
    assert(planOf(s).contains("BroadcastHashJoin"), "budgets must broadcast-join")
  }

  test("q120: BPE-metered loader keeps the prune-before-explode contract in model-token space") {
    val df = queries.TextQueries.q120BpePackSlices(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the BPE loader plan")
    val plan = planOf(df)
    // exactly one symbol explode (the model-token materialization) fed
    // by joins that already include the window-pruned selection — the
    // word-instance posexplode below it is the bounded per-doc grid
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gen.nonEmpty, s"expected generates in:\n$plan")
    assert(
      gen.exists(_.child.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty),
      "the symbol explode must consume the selection-pruned join, not the raw corpus"
    )
  }

  test("q114: stratified loader inherits every packing lock — source-filtered scan, pruned explode") {
    // Pack k of ONE domain: the corpus must be filtered to the source
    // BEFORE layout (domain purity makes that exact), the offsets
    // broadcast back, the window pruned before the single explode, and
    // no unpartitioned window anywhere.
    val df = queries.TextQueries.q114StratifiedPackSlices(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the stratified-loader plan")
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), "group offsets must broadcast-join back")
    val explodes = "Generate posexplode".r.findAllIn(plan).length
    assert(explodes == 1, s"expected exactly 1 explode:\n$plan")
    // the source equality must reach the parquet scan as a pushed filter
    assert(
      plan.contains("PushedFilters: [") && plan.contains("EqualTo(source,"),
      s"source filter must push into the documents scan:\n$plan"
    )
  }

  test("q121: epoch shuffle ranks per md5 bucket — no global window, bucket offsets broadcast") {
    // The per-epoch permutation rank must come from the two-pass
    // prefix over 256 md5-byte buckets; a corpus-wide
    // Window.orderBy(key) (the O(n_packs)-rows-on-one-task shape) is
    // exactly what this operator exists to avoid.
    val df = queries.TextQueries.q121EpochOrder(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the epoch-order plan")
    assert(planOf(df).contains("BroadcastHashJoin"), "bucket offsets must broadcast-join back")
  }

  test("q122: boundary table is manifest arithmetic — one sequence explode, no text column") {
    val df = queries.TextQueries.q122PackBoundaries(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the boundary plan")
    val plan = planOf(df)
    val explodes = "Generate explode".r.findAllIn(plan).length
    assert(explodes == 1, s"expected exactly 1 explode (the pack-range sequence):\n$plan")
    // the explode consumes manifest rows (integers), never token text:
    // its generator must be over the pack-range sequence
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(
      gen.forall(_.generator.toString.contains("sequence")),
      "the only explode must be the pack-range sequence, not a token split"
    )
  }

  test("q124: curriculum packing derives the bin inline — no global window, bases broadcast") {
    // The quality bin is a projection over the same scan the layout
    // reads; per-bin offsets and curriculum bases both come back by
    // broadcast join. Same no-unpartitioned-window contract as q113.
    val df = queries.TextQueries.q124CurriculumPacking(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "unpartitioned window in the curriculum packing plan")
    assert(planOf(df).contains("BroadcastHashJoin"), "bin offsets/bases must broadcast-join back")
  }

  test("q125/q126: vocab dense-rank windows only range partitions; encode is an equi join") {
    // q125: the vocabulary-wide rank must come from per-range-partition
    // row_numbers + a driver prefix — a Window.orderBy(token) over the
    // vocab (10^8 rows on one task at web scale) is the trap.
    val v = queries.TextQueries.q125VocabIds(spark, sf)
    val vw = v.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(vw.isEmpty, "unpartitioned window in the vocab plan")
    assert(planOf(v).contains("BroadcastHashJoin"), "partition offsets must broadcast-join back")
    // q126: the encode hop inherits q111's locks and joins on the
    // token key — never a cartesian or a corpus-wide window.
    val e = queries.TextQueries.q126PackedIds(spark, sf)
    val ew = e.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(ew.isEmpty, "unpartitioned window in the packed-ids plan")
    assert(!planOf(e).contains("CartesianProduct"))
  }

  test("global: no query ever plans a CartesianProduct") {
    // Bounded-side cross joins plan as BroadcastNestedLoopJoin over a
    // broadcast() of provably small relations (centroids, 1-row
    // scalars, query batches) — the documented pattern. A
    // CartesianProduct (both sides partitioned, every pair
    // materialized) anywhere in the whole declared query surface is a scale bug,
    // whatever the test-sf row counts happen to be. Building the plans
    // runs the few eagerly-executing queries (q89/q96/q97/q105/q107)
    // at this smallest sf — acceptable for a whole-surface guard.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try planOf(fn(spark, sf))
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("q88: sketch path shuffles digests as partial aggregates, no extra sort") {
    val plan = planOf(CoreQueries.q88SketchQuantiles(spark, sf))
    // The t-digest aggregate must run as ObjectHashAggregate partial +
    // final (digest bytes cross the shuffle), not fall back to a
    // SortAggregate over raw rows.
    assert(plan.contains("ObjectHashAggregate"), s"tdigest must ObjectHashAggregate:\n$plan")
  }

  test("q74/q92: bigram marginals are rollups — exactly one corpus explode each") {
    // The marginals sit ABOVE the pair-count exchange, so ReuseExchange
    // dedupes every consumer onto one explode. AQE applies that reuse
    // at runtime; disable it here so the static rule makes the
    // property visible in the plan string.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (
        (name, df) <- Seq(
          "q74" -> queries.TextQueries.q74BigramLm(spark, sf),
          "q92" -> queries.TextQueries.q92Collocations(spark, sf)
        )
      ) {
        val plan = planOf(df)
        val explodes = "Generate explode".r.findAllIn(plan).length
        assert(explodes == 1, s"$name: expected exactly 1 explode, got $explodes:\n$plan")
        assert(plan.contains("ReusedExchange"), s"$name: marginals must reuse the exchange:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q60: plans as semi and anti joins, never an inner join + distinct") {
    val plan = planOf(CoreQueries.q60SemiAnti(spark, sf))
    assert(plan.contains("LeftSemi"), s"semi join expected:\n$plan")
    assert(plan.contains("LeftAnti"), s"anti join expected:\n$plan")
  }

  test("q58: k-means assignment aggregates before shuffling — no window, N-row shuffles only") {
    val plan = planOf(queries.VectorQueries.q58KMeans(spark, sf))
    assert(!plan.contains("Window ["), s"assignment must not be a window:\n$plan")
    assert(plan.contains("min_by"), s"argmin assignment should plan as min_by aggregate:\n$plan")
  }

  test("q76: PQ assignment is a min_by aggregate over the 4-row broadcast — no window") {
    val plan = planOf(queries.VectorQueries.q76PqCodes(spark, sf))
    assert(!plan.contains("Window ["), s"per-subspace argmin must not be a window:\n$plan")
    assert(plan.contains("min_by"), s"min_by aggregate expected:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"sub-centroids must arrive as a broadcast cross join:\n$plan")
  }

  test("q79: semantic dedup pairs only within clusters — the pair join is an equi join") {
    val plan = planOf(queries.VectorQueries.q79SemanticDedup(spark, sf))
    // One Cross join is legal (the K-row centroid broadcast); the
    // intra-cluster pair join must be keyed, not a cartesian product.
    assert(!plan.contains("CartesianProduct"), s"no cartesian pair generation:\n$plan")
    assert(plan.contains("LeftAnti"), s"drop rule must plan as an anti join:\n$plan")
  }

  test("q95: pair join keyed on (cluster, sub); blocking aggregates, windows only on bounded inputs") {
    import org.apache.spark.sql.functions._
    // Pairing side (post-barrier — the blocked table is checkpointed,
    // so q95's executed plan starts there): the pair join must be a
    // keyed equi join on (cluster, sub), the drop rule an anti join,
    // and nothing may be cartesian.
    val plan = planOf(queries.VectorQueries.q95SemanticDedupCapped(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"no cartesian pair generation:\n$plan")
    assert(plan.contains("LeftAnti"), s"drop rule must plan as an anti join:\n$plan")
    assert(
      "Join \\[cluster#\\d+L, sub#\\d+L\\]".r.findAllIn(plan).nonEmpty,
      s"pair join must be keyed on (cluster, sub):\n$plan"
    )
    // Blocking side (pre-barrier): coarse assignment and sub-seed
    // re-assignment are max_by argmax AGGREGATES (partial agg collapses
    // N×K before the shuffle) — a window there would shuffle N×seeds
    // wide rows. The only windows allowed are the seed-rank row_number
    // (over the pruned O(n/cap) candidate pool) and the exact-dup
    // rep-min (one corpus shuffle, unordered frame).
    val e = spark.read
      .parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb"))))
    val bplan = planOf(queries.VectorQueries.semanticBlocksOn(e, 40))
    assert(!bplan.contains("CartesianProduct"), s"no cartesian in blocking:\n$bplan")
    assert(bplan.contains("max_by"), s"argmax assignment should plan as max_by aggregate:\n$bplan")
    val windows = "Window \\[\\w+\\(".r.findAllIn(bplan).length
    val seedRank = "Window \\[row_number\\(\\) windowspecdefinition\\(cluster".r.findAllIn(bplan).length
    val repMin = "Window \\[min\\(vec_id".r.findAllIn(bplan).length
    assert(
      windows > 0 && windows == seedRank + repMin,
      s"only the seed-rank and rep-min windows are allowed:\n$bplan"
    )
  }

  test("probePairs: partition-pruned candidate scan, fold-literal centroid argmax, no cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The ingest-time probe must keep the two properties that bound it
    // at corpus scale: candidates come off the cluster-partitioned
    // parquet through a PartitionFilters prune (a regression to a full
    // index scan fails here), and the batch-to-centroid assignment is a
    // per-row fold over the bounded centroid literal — NO join node may
    // exist on the centroid side (a regression back to the N×K
    // cross-join row materialization fails here).
    val p = java.nio.file.Files.createTempDirectory("graft-plan-probepairs").toString + "/ivf"
    val vectors = spark.read
      .parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    graft.operators.VectorIndex.build(spark, vectors, p, col("vec_id") % 100 === 0)
    // The batch must come off a real scan: a local Seq relation would
    // constant-fold the assignment expression out of the plan.
    val batch = vectors
      .filter(col("vec_id") === 7)
      .select((col("vec_id") + 999992L).as("vec_id"), transform(col("emb"), _ * 2.0).as("emb"))
    val plan = planOf(graft.operators.VectorIndex.probePairs(spark, batch, p, 0.9))
    assert(
      plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"candidate scan must partition-prune on the probed clusters:\n$plan"
    )
    assert(plan.contains("graft_argmax_cos"), s"centroid argmax must be the native expression:\n$plan")
    assert(
      !plan.contains("BroadcastNestedLoopJoin"),
      s"assignment must not materialize N×K rows via a cross join:\n$plan"
    )
    assert(!plan.contains("CartesianProduct"), s"no cartesian pair generation:\n$plan")
  }

  test("q98: hardest-positive is a min_by aggregate; band filter precedes the top-k window") {
    val plan = planOf(queries.VectorQueries.q98SemiHardNegatives(spark, sf))
    assert(plan.contains("min_by"), s"hardest positive must plan as a min_by aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"anchors must broadcast, never cartesian:\n$plan")
    // The per-anchor top-5 gets the group-limit pushdown, so only the
    // in-band negatives reach the window sort.
    assert(plan.contains("WindowGroupLimit"), s"group-limit pushdown expected:\n$plan")
  }

  test("q99: both retrieval arms take top-k via TakeOrderedAndProject, not corpus-wide windows") {
    val plan = planOf(queries.VectorQueries.q99HybridRrf(spark, sf))
    // Two arms, two global top-20s: each must plan as a distributed
    // TakeOrdered (map-side k rows), never a single-partition window
    // sort over the corpus-sized score relation. The only windows left
    // are the rank assignments over the <=20-row results.
    assert(
      "TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      s"both arms must TakeOrdered:\n$plan"
    )
    assert(plan.contains("FullOuter"), s"fusion must be a full-outer join:\n$plan")
  }

  test("q100: alt-label argmax is a max_by aggregate; centroids broadcast; bottom-5 group-limited") {
    val plan = planOf(queries.VectorQueries.q100LabelNoise(spark, sf))
    assert(plan.contains("max_by"), s"alt-label argmax must plan as a max_by aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"centroid table must broadcast, never cartesian:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"per-label bottom-5 needs the group-limit pushdown:\n$plan")
  }

  test("q81: fixed-size sample gets the partial WindowGroupLimit pushdown") {
    val plan = planOf(queries.TextQueries.q81FixedSample(spark, sf))
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"map tasks must keep <=k rows per stratum before the shuffle:\n$plan")
  }

  test("q82: BM25 term counts are per-row array counts — no token explode; stats arrive by broadcast") {
    // Round 16 shape: per-doc tf for the two fixed query terms is a
    // per-row filtered-array count (one corpus scan), and the corpus
    // stats (n_docs, Σdl, per-term df) are ONE 1-row aggregate crossed
    // back by broadcast — the previous explode → (doc, term) count →
    // per-doc regroup → join-back chain shuffled the term-instance
    // stream three times to produce the same columns.
    val df = queries.TextQueries.q82Bm25(spark, sf)
    val plan = planOf(df)
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gen.isEmpty, s"no token explode — tf is a per-row array count:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"corpus stats must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    // the only shuffle left is the 1-row stats aggregate
    val nEx = "Exchange hashpartitioning|Exchange SinglePartition".r.findAllIn(plan).length
    assert(nEx <= 1, s"expected at most the 1-row stats exchange, got $nEx:\n$plan")
  }

  test("q130: vocab membership joins the histogram, never the token stream") {
    // The (source, token) aggregate must sit BELOW the dictionary join:
    // map-side combine collapses instance repetition first, so the join
    // probes O(distinct words), not O(token instances).
    val df = queries.TextQueries.q130OovDrift(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val joinHasAggBelow = joins.exists(_.left.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined)
    assert(joinHasAggBelow, s"histogram aggregate must precede the membership join:\n${df.queryExecution.optimizedPlan}")
  }

  test("q131: contaminated-ids join prunes the manifest BEFORE the pack-range explode") {
    val df = queries.TextQueries.q131PackContamAudit(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"contam ids must broadcast:\n$plan")
    // the pack-range explode (sequence generator; q129's shingle explode
    // also appears, inside the broadcast subtree) must be fed by the
    // contaminated-ids join, not the raw manifest
    val gen = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.toString.contains("sequence") =>
        g
    }
    assert(gen.size == 1, s"exactly one pack-range explode:\n${df.queryExecution.optimizedPlan}")
    val joinBelowGenerate = gen.head.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joinBelowGenerate.isDefined,
      s"the contaminated-ids join must sit below the explode:\n${df.queryExecution.optimizedPlan}")
  }

  test("q129: eval shingle set broadcasts into a left-semi probe") {
    // The purge decision streams the train explode map-side against the
    // (tiny) eval set: a broadcast LEFT SEMI, so the only shuffle is the
    // per-doc overlap count. A shuffled join here would re-shuffle the
    // entire corpus' shingle explode at 100 TB.
    val plan = planOf(queries.TextQueries.q129DecontamPurge(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval set must broadcast into a semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"train side must not shuffle for the probe:\n$plan")
  }

  test("q133: both fuzzy-decontam joins broadcast the eval side") {
    // Band candidacy and Jaccard verification each join the corpus-sized
    // train stream against a bounded eval-derived table: both must plan
    // as broadcast hash joins — a sort-merge shape would shuffle the
    // train band explode (4× the corpus' doc count) at 100 TB, and the
    // only shuffles the query is allowed are the two O(collision)
    // aggregates.
    val plan = planOf(queries.TextQueries.q133FuzzyDecontam(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"eval bands/sets must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"train side must never shuffle for a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"candidacy is band-key equality, never all-pairs:\n$plan")
  }

  test("q135: semantic decontam is an argmax expression + one broadcast join — no pair rows") {
    // The eval matrix rides as ArgmaxCosine constructor state, so the
    // only join in the plan is the single broadcast equi-join fetching
    // the winning eval row — never a cross join materializing
    // (train × eval) embedding-pair rows, never a sort-merge.
    val plan = planOf(queries.VectorQueries.q135SemanticDecontam(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"the winning-row fetch must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the train side must never shuffle for a join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no (train × eval) pair rows:\n$plan")
  }

  test("q136-q138: schedule/mixture arithmetic never plans a global window or sort-merge join") {
    // q136 is a FILTER over the epoch schedule (epochOrder's windows
    // are bucket-partitioned — q121's lock); q137 is two hash aggs;
    // q138 is layoutBy (per-(group, shard) windows) + one hash agg.
    // None of them may acquire an unpartitioned window (a corpus-sized
    // single-task sort) or a sort-merge join (the offset/weight sides
    // are broadcast-sized by construction).
    for (
      (name, df) <- Seq(
        "q136" -> queries.TextQueries.q136ResumeSlice(spark, sf),
        "q137" -> queries.TextQueries.q137TemperatureMix(spark, sf),
        "q138" -> queries.TextQueries.q138PackEfficiency(spark, sf)
      )
    ) {
      val gw = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(gw.isEmpty, s"$name: unpartitioned window")
      val plan = planOf(df)
      assert(!plan.contains("SortMergeJoin"), s"$name: sort-merge join in a broadcast-sized plan:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian:\n$plan")
    }
  }

  test("q143: fingerprints are computed BELOW the join — text never reaches the exchange") {
    // snapshotDiff's scale claim is that the full-outer join ships
    // (id, 32-hex) rows, never content: the md5 projection must sit on
    // the scan side of the join (in tree printing, children render
    // AFTER parents, so a plan that fingerprinted after joining would
    // print md5 before the join node). The scan itself must read only
    // the id + content columns.
    val plan = planOf(queries.TextQueries.q143SnapshotDiff(spark, sf))
    val join = plan.indexOf("SortMergeJoin")
    val fp = plan.indexOf("md5(")
    assert(join >= 0, s"full-outer diff should sort-merge join:\n$plan")
    assert(fp > join, s"md5 fingerprint must be below the join (scan side):\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s"over-read:\n$plan")
  }

  test("q145: survivor argmax is a partial-aggregated agg + equi joins — never a window over text") {
    // keepBestOfCluster's per-component argmax must plan as an
    // aggregate with a map-side partial (O(docs) -> O(clusters) before
    // the shuffle), joined back on the component key; no unpartitioned
    // window, no cartesian, and the score projection (split on text)
    // stays below the first exchange.
    val df = queries.TextQueries.q145ClusterBest(spark, sf)
    val gw = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(gw.isEmpty, "unpartitioned window")
    val plan = planOf(df)
    assert(plan.contains("partial_max"), s"argmax must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q147: preference pairs plan as ONE partial-aggregated agg — no window, no self-join") {
    // The pair builder's scale claim: chosen and rejected come out of a
    // single groupBy(prompt) with struct argmax/argmin aggregates —
    // map-side partials cut O(responses) to O(prompts) before the only
    // shuffle. A window- or self-join-shaped plan would ship every
    // response row to the prompt partition twice.
    val df = queries.PreferenceQueries.q147PreferencePairs(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("partial_max") && plan.contains("partial_min"),
      s"argmax/argmin must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"no join in the pair build:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"exactly one shuffle (the prompt agg), got $exchanges:\n$plan")
  }

  test("q152: pair decontamination gates are BROADCAST anti joins — the pair table streams") {
    val plan = planOf(queries.PreferenceQueries.q152PairDecontam(spark, sf))
    val bcAnti = "BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).length
    assert(bcAnti == 2, s"both member gates must broadcast-anti, got $bcAnti:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"contaminated set must never shuffle the pairs:\n$plan")
  }

  test("q149: the length-cohort mean joins back as a broadcast — responses never reshuffle") {
    val plan = planOf(queries.PreferenceQueries.q149LengthDebias(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"bucket means must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q157: the prompt-mean join is keyed on the agg's own key — no window, no cartesian") {
    // groupAdvantage must NOT assume the prompt table broadcasts (the
    // prompt space is corpus-sized): the mean comes from one
    // partial-aggregated groupBy and joins back on the same key the
    // agg shuffled on, so the join is co-partitionable at any scale.
    val df = queries.PreferenceQueries.q157GroupAdvantage(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("partial_sum"), s"prompt mean must partial-aggregate map-side:\n$plan")
    val gw = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(gw.isEmpty, "unpartitioned window")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q159: response text reduces to its md5 below the dedup exchange") {
    // dedupResponses' scale claim: the (prompt, content-hash) agg
    // ships 32-hex hashes, never response content — the md5 must be
    // computed on the scan side of the aggregation exchange (children
    // print after parents, so the hash projection appears after the
    // exchange in the plan string), with the argmax partial-aggregated.
    val plan = planOf(queries.PreferenceQueries.q159ResponseDedup(spark, sf))
    val ex = plan.indexOf("Exchange hashpartitioning")
    val h = plan.indexOf("md5(")
    assert(ex >= 0 && h > ex, s"md5 must sit below the exchange:\n$plan")
    assert(plan.contains("partial_max"), s"survivor argmax must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pairIngest: the batch reduction partial-aggregates before its only shuffle") {
    // The incremental pair state's per-batch cost claim: the batch
    // reduces map-side to per-prompt extremes — partial_max AND
    // partial_min must appear below one exchange.
    val rows = (0L until 200L).map(id => (id % 7, id, id * 13 % 101))
    import spark.implicits._
    val batch = rows.toDF("prompt_id", "doc_id", "score")
    val partial = batch
      .groupBy(org.apache.spark.sql.functions.col("prompt_id"))
      .agg(
        org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("score"),
          (-org.apache.spark.sql.functions.col("doc_id")).as("neg_id"))).as("c"),
        org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("score"),
          org.apache.spark.sql.functions.col("doc_id").as("id"))).as("r"))
    val plan = partial.queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") && plan.contains("partial_min"),
      s"batch reduction must partial-aggregate:\n$plan")
  }

  test("q160/q161: the win-matrix pairing join is prompt-keyed — no cartesian, partial agg first") {
    // winMatrix's scale claim: O(responses) reduces map-side to
    // O(prompts x policies) before the only corpus-sized shuffle; the
    // policy-pair comparison is a PROMPT-keyed self-join (policies^2
    // rows per prompt, single-digit policies), never a cartesian, and
    // no window anywhere.
    val df = queries.PreferenceQueries.q160WinMatrix(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("partial_max"), s"best-per-(prompt,policy) must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
  }

  test("q162: pack decode joins the vocab BROADCAST — pack token rows never sort-merge") {
    // decodePacks' scale claim: the dictionary is tiny next to the
    // decoded slice, so the id->token join must broadcast the vocab
    // side; the re-agg back to one row per pack partial-aggregates.
    val df = queries.TextQueries.q162DecodePacks(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_sort_array") || plan.contains("partial_collect_list") ||
      plan.contains("ObjectHashAggregate"),
      s"per-pack re-agg must partial-aggregate:\n$plan")
  }

  test("q167: the coverage rank/prefix windows partition by range slice — never the whole table") {
    // coverageCurve's scale claim: the rank + running sum ride the
    // pinned two-pass range exchange (windows PARTITIONED BY pid, a
    // range slice), never an unpartitioned corpus-sized single-task
    // window; the 4-row target probe may nested-loop (it is a 4-row
    // broadcast by construction) but nothing may cartesian corpus
    // sides together.
    val df = queries.TextQueries.q167VocabCoverage(spark, sf)
    val gw = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(gw.isEmpty, "unpartitioned window in the coverage rank")
    assert(!planOf(df).contains("SortMergeJoin"), "broadcast-sized probes must not SMJ")
  }

  test("q168/q173: composition windows stay partition-bounded — never a corpus single task") {
    // q168 (semantic packing): the per-cluster layout's running sums
    // ride (group, shard)-partitioned windows; q173 (few-shot): the
    // only windows are the pool rank's pid-partitioned two-pass. An
    // unpartitioned window in either would be a corpus-sized single
    // task — the exact failure mode the two-pass discipline exists to
    // prevent.
    for (
      (name, df) <- Seq(
        "q168" -> queries.TextQueries.q168SemanticPacking(spark, sf),
        "q173" -> queries.TextQueries.q173FewshotPrompts(spark, sf),
        "q176" -> queries.TextQueries.q176FewshotDistinct(spark, sf)
      )
    ) {
      val gw = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(gw.isEmpty, s"$name: unpartitioned window")
      assert(!planOf(df).contains("CartesianProduct"), s"$name: cartesian")
    }
  }

  test("q175: model-token chunking is a pure per-row map — ZERO exchanges after the merges freeze") {
    // the merge table is driver state by the time the chunk plan
    // exists (learnMerges runs eagerly), so the returned plan must be
    // scan -> project (native BPE apply + flatten) -> generate
    // (explode) -> project: no shuffle, no join, no window — the
    // zero-shuffle claim Bpe.modelTokens' docs make, locked. (The
    // fixture's parallelism repartition is the one allowed exchange —
    // round-robin, operator-external.)
    val plan = planOf(queries.TextQueries.q175BpeChunks(spark, sf))
    val foreign = plan.replace("Exchange RoundRobinPartitioning", "")
    assert(!foreign.contains("Exchange"), s"model-token chunking must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert(plan.contains("Generate"), s"the chunk explode must be a Generate:\n$plan")
    // ...and the tokenization is computed ONCE: the empty-doc guard
    // must not push a duplicated BPE apply below the scan
    assert("graft_bpe_apply".r.findAllIn(plan).length == 1,
      s"the BPE apply must appear exactly once in the plan:\n$plan")
  }

  test("q177: branch pairs are ONE keyed partial agg — no join, no window") {
    val df = queries.PreferenceQueries.q177BranchPairs(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("Join"), s"no join of any kind:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial_min"),
      s"the sibling agg must partial-aggregate map-side:\n$plan")
    val nEx = plan.sliding("Exchange".length).count(_ == "Exchange")
    assert(nEx <= 2, s"one keyed shuffle expected (AQE reads allowed), got $nEx:\n$plan")
  }

  test("q174/q178: the tree-family composition plans stay keyed — no cartesian, no corpus window") {
    // both ride the conv-keyed pointer-doubling closure (iterative,
    // collects interlocked at the operator layer); the COMPOSED final
    // plan must add only keyed joins and keyed aggs on top — a
    // cartesian or an unpartitioned window here would be a silent
    // corpus-sized single task.
    for (
      (name, df) <- Seq(
        "q174" -> queries.PreferenceQueries.q174TreeRender(spark, sf),
        "q178" -> queries.PreferenceQueries.q178BranchPairsRendered(spark, sf)
      )
    ) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian:\n$plan")
      val gw = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
      assert(gw.isEmpty, s"$name: unpartitioned window")
    }
  }

  test("q180: token coordinates ride q178's plan — no added exchange, one count per text column") {
    // withModelTokenCounts is a pure projection: the q180 plan must
    // have exactly q178's exchanges (the counts never shuffle the
    // rendered text), and each of the 3 text columns pays the native
    // single-pass BPE COUNT exactly once (the q116 double-apply
    // lesson; round 16 replaced the per-word apply+re-split HOF chain
    // with graft_bpe_count).
    def exchanges(p: String): Int = p.sliding("Exchange".length).count(_ == "Exchange")
    val base = planOf(queries.PreferenceQueries.q178BranchPairsRendered(spark, sf))
    val plan = planOf(queries.PreferenceQueries.q180DpoTokenCoords(spark, sf))
    assert(exchanges(plan) == exchanges(base),
      s"token metering added a shuffle: q178=${exchanges(base)} q180=${exchanges(plan)}:\n$plan")
    assert("graft_bpe_count".r.findAllIn(plan).length == 3,
      s"one native BPE count per text column expected:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("q182: eval-side decontam broadcasts; the purge is a broadcast semi/anti pair") {
    // the eval corpus is benchmark-sized: its shingle set must ride a
    // broadcast into the member semi-join, and the final pair purge
    // must be a broadcast anti-join on the pair key — the train-sized
    // triple side never reshuffles for either.
    val plan = planOf(queries.PreferenceQueries.q182DpoEvalDecontam(spark, sf))
    assert(plan.contains("BroadcastHashJoin") &&
      (plan.contains("LeftSemi") || plan.contains("LeftAnti")),
      s"eval decontam must be broadcast semi/anti:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    val gw = queries.PreferenceQueries.q182DpoEvalDecontam(spark, sf)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
      }
    assert(gw.isEmpty, "unpartitioned window")
  }

  test("q183: the batch layout ranks metadata only — no corpus window, no cartesian, text-free rank") {
    // the layout's heavy lifting sits behind lengthGroupedBatches'
    // metadata pin, so the returned plan reads the pinned (key, len)
    // rows: any window must be pid-partitioned (the two-pass rank),
    // never global, and no rendered text column may survive into the
    // layout plan at all.
    val df = queries.PreferenceQueries.q183DpoLengthBatches(spark, sf)
    val gw = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(gw.isEmpty, "unpartitioned window in the batch layout")
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("prompt") && !plan.contains("chosen") && !plan.contains("rejected"),
      s"rendered text entered the batch-layout plan:\n$plan")
  }

  test("q164: the O(buckets) weight table broadcasts; top-k is TakeOrderedAndProject") {
    // DSIR's scale claims: the scoring pass joins the bucket table
    // BROADCAST (it is O(buckets) by construction — the corpus side
    // must never reshuffle for it), the bucket histogram and the
    // per-doc roll-up both partial-aggregate, and the final top-500
    // plans as TakeOrderedAndProject — per-partition heads, never a
    // global sort. No cartesian, no window anywhere.
    val df = queries.TextQueries.q164DsirSelect(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), s"weight join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$plan")
    assert(plan.contains("partial_count"), s"aggs must partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
  }

  test("tree_state fold: one conv-keyed exchange, ZERO joins, no cartesian, no window") {
    // The incremental fold's scale contract after the walk-refold
    // rewrite: the touched buckets' state rows and the batch rows
    // tag-union and cross exactly ONE hash exchange on the
    // conversation key (the same exchange the bucket-partitioned
    // write needs), then everything happens inside the task — no join
    // of any kind, no window, no cartesian, and no second exchange.
    import spark.implicits._
    val m = graft.operators.ConvTree.treePaths(
      Seq((1L, 0L, Option.empty[Long]), (1L, 1L, Some(0L)), (1L, 2L, Some(1L)))
        .map { case (c, t, p) => (c, t, p.map(java.lang.Long.valueOf).orNull) }
        .toDF("conv_id", "turn_id", "parent_id"),
      "conv_id", "turn_id", "parent_id")
    val b = Seq((1L, java.lang.Long.valueOf(3L), java.lang.Long.valueOf(1L)))
      .toDF("conv_id", "turn_id", "parent_id")
    val df = graft.operators.TreeState.foldInto(m, b, 100)
    val plan = planOf(df)
    assert(!plan.contains("Join"), s"the walk-refold plans no join of any kind:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("Window ["), s"no window:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"exactly one conv-keyed exchange, found $exchanges:\n$plan")
  }
}
