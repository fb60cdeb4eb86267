package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Post-training (SFT / RLHF) data operators: the preference-data
  * construction steps that sit between a scored response corpus and a
  * DPO/RLHF trainer — pair construction, best-of-n selection,
  * length-bias removal, multi-rater reconciliation, conversation-turn
  * flattening, and pair-level decontamination.
  *
  * The scale posture mirrors the pretraining families: every operator
  * is one keyed aggregation or one bounded-partition window over the
  * PROMPT key (response groups are small by construction — a prompt
  * has n responses, not a corpus), content columns never enter a
  * shuffle unless they are the output, and nothing collects to the
  * driver. All arithmetic that feeds an equality-checked output is
  * integer (micro-units under floor division), never floating point,
  * so results are deterministic across partitionings and engines.
  */
object Preference {

  /** Exact BIGINT FLOOR division `a / b` (requires `b > 0`) as a SQL
    * fragment: `(a - pmod(a, b)) div b`. Spark's bare `div` truncates
    * toward zero while DuckDB's `//` floors, so a raw `div` silently
    * diverges between the engine and the oracle whenever the dividend
    * is negative (real RLHF rewards go negative; the micro-unit means
    * built on this must stay engine-portable there too). `pmod` is
    * nonnegative for positive divisors, so subtracting it lands the
    * dividend exactly on a multiple of `b` and the `div` is then
    * exact floor — all BIGINT, no doubles.
    */
  private def floorDivSql(a: String, b: String): String =
    s"((($a) - pmod(($a), ($b))) div ($b))"

  /** Entry guard for every operator that tie-breaks with the
    * `max(struct(score, -id))` trick: unary minus over a STRING id
    * (UUID response ids are common) silently casts to NULL, turning
    * the documented total deterministic ordering into an arbitrary
    * one with no error anywhere — so misuse must fail loudly here
    * instead. Non-null scores are likewise a documented precondition
    * (a NULL score silently drops its prompt's pair from the agg).
    */
  private[operators] def requireNumericId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(
      dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op tie-breaks on -$idCol, which requires a NUMERIC id column: " +
        s"'$idCol' is ${dt.simpleString}. A string/UUID id would silently " +
        "cast to NULL under unary minus and break the deterministic " +
        "ordering — map ids to BIGINT (e.g. xxhash64) before calling."
    )
  }

  /** DPO-style preference pairs from a scored response table: for each
    * prompt, `chosen` = the argmax-score response and `rejected` = the
    * argmin-score response, both with ties broken to the smaller
    * response id so the pair is a total, deterministic function of the
    * table. Prompts whose responses all share one score (including
    * single-response prompts) yield no pair — a zero-margin "pair"
    * carries no preference signal, and DPO's loss is undefined on it.
    *
    * Returns `(promptCol, chosen_id, rejected_id, chosen_score,
    * rejected_score, margin)` with `margin = chosen_score -
    * rejected_score > 0` guaranteed.
    *
    * Scale shape: ONE groupBy on the prompt key with two
    * `max/min(struct(...))` argmax aggregates — map-side partials
    * reduce O(responses) to O(prompts) before the only shuffle; no
    * window, no self-join, no response text in the plan.
    */
  def preferencePairs(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    requireNumericId(responses, idCol, "preferencePairs")
    responses
      .groupBy(col(promptCol))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id")))
          .as("c"),
        min(struct(col(scoreCol).as("s"), col(idCol).as("id"))).as("r")
      )
      .select(
        col(promptCol),
        (-col("c")("neg_id")).as("chosen_id"),
        col("r")("id").as("rejected_id"),
        col("c")("s").as("chosen_score"),
        col("r")("s").as("rejected_score"),
        (col("c")("s") - col("r")("s")).as("margin")
      )
      .filter(col("margin") > 0)
  }

  /** Best-of-n selection: the top `n` responses of every prompt by
    * score (ties to the smaller id), each labeled with its 1-based
    * rank — the rejection-sampling primitive (keep the best k of n
    * sampled completions) and the candidate-list builder for listwise
    * preference losses.
    *
    * Scale shape: one `row_number` window PARTITIONED BY the prompt
    * key — safe because a partition is one prompt's response set
    * (bounded by the sampling fan-out, typically 4-64), never the
    * corpus; the filter to rank <= n prunes before anything else
    * reads the output.
    */
  def bestOfN(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      n: Int
  ): DataFrame = {
    require(n >= 1, s"bestOfN needs n >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(promptCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    responses
      .select(col(promptCol), col(idCol), col(scoreCol))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= n)
  }

  /** Length-debiased reward: reward models systematically prefer
    * longer responses, and training on raw scores bakes that bias in
    * (the "length hack"). The published mitigation is to center each
    * response's score against its LENGTH COHORT — here, subtract the
    * mean score of the response's length bucket
    * (`bucket = lenCol div bucketWidth`), leaving only the
    * within-cohort signal.
    *
    * All arithmetic is integer micro-units: the bucket mean is
    * `(1e6 * sum(score)) div count` (BIGINT floor division) and the
    * adjusted score is `1e6 * score - mean_micro`, so the output is
    * exact and engine-portable — no floating-point averages. Returns
    * `(idCol, bucket, scoreCol, adj_micro)`.
    *
    * Scale shape: one groupBy on the bucket (map-side partial,
    * O(responses) -> O(buckets)) and one join back keyed on the
    * bucket; the bucket table is tiny (max len / width rows) so the
    * join side broadcasts.
    */
  def lengthDebias(
      responses: DataFrame,
      idCol: String,
      scoreCol: String,
      lenCol: String,
      bucketWidth: Long
  ): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val bucketed = responses
      .select(col(idCol), col(scoreCol), col(lenCol))
      .withColumn("bucket", expr(s"$lenCol div ${bucketWidth}L"))
    val means = bucketed
      .groupBy(col("bucket"))
      .agg(
        expr(floorDivSql(s"1000000L * sum($scoreCol)", "count(*)")).as("mean_micro")
      )
    bucketed
      .join(broadcast(means), Seq("bucket"), "inner")
      .select(
        col(idCol),
        col("bucket"),
        col(scoreCol),
        (lit(1000000L) * col(scoreCol) - col("mean_micro")).as("adj_micro")
      )
  }

  /** Multi-rater reconciliation: collapse a ratings table (several
    * raters scoring the same response) to one row per response with
    * the integer-micro mean, the score range, and a `disputed` flag
    * when the range reaches `disputeRange` — the triage table a
    * labeling pipeline reads to route high-disagreement responses to
    * re-annotation instead of training.
    *
    * Returns `(idCol, n_raters, mean_micro, score_range, disputed)`;
    * `mean_micro = (1e6 * sum(score)) div count` (BIGINT floor
    * division — exact, engine-portable).
    *
    * Scale shape: ONE groupBy on the response id with map-side
    * partials; the ratings table is k x responses rows (k raters),
    * so the agg is the only pass and nothing else moves.
    */
  def raterAgreement(
      ratings: DataFrame,
      idCol: String,
      scoreCol: String,
      disputeRange: Long
  ): DataFrame =
    ratings
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_raters"),
        expr(floorDivSql(s"1000000L * sum($scoreCol)", "count(*)")).as("mean_micro"),
        (max(col(scoreCol)) - min(col(scoreCol))).as("score_range")
      )
      .withColumn("disputed", col("score_range") >= disputeRange)

  /** Conversation-turn flattening: an event-log conversation (one row
    * per message, ordered by timestamp) re-shaped to the
    * `(conversation, turn_idx, role, content)` rows an SFT formatter
    * consumes, with roles alternating user/assistant from the first
    * turn. `tieCol` breaks timestamp ties so the turn order is total
    * (log replays and same-ms batches stay deterministic).
    *
    * Scale shape: one `row_number` window PARTITIONED BY the
    * conversation key — a partition is one conversation's messages
    * (bounded by dialogue length), never the corpus; the content
    * column rides the window's shuffle once, which is the minimum for
    * this reshape.
    */
  def flattenTurns(
      events: DataFrame,
      convCol: String,
      tsCol: String,
      tieCol: String,
      contentCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(convCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    events
      .select(col(convCol), col(tsCol), col(tieCol), col(contentCol))
      .withColumn("turn_idx", row_number().over(w).cast("int"))
      .withColumn(
        "role",
        when(col("turn_idx") % 2 === 1, lit("user")).otherwise(lit("assistant"))
      )
      .select(
        col(convCol).as("conv_id"),
        col("turn_idx"),
        col("role"),
        col(contentCol).as("content")
      )
  }

  /** Within-prompt response DEDUP: sampling at temperature returns
    * near- and exact-identical completions, and a pair built from two
    * copies of the same response carries zero preference signal (or
    * worse, a noise-margin one) — so production pipelines collapse
    * each prompt's identical responses to one survivor BEFORE
    * pairing. Every response is labeled with its within-prompt
    * content group (`md5(content)`) and whether it is the group's
    * KEEP — the argmax-score copy, ties to the smaller id (total and
    * deterministic, [[Dedup]]-survivor discipline). The caller
    * filters `keep` before [[preferencePairs]] or audits the dropped
    * copies.
    *
    * Scale shape: ONE groupBy on (prompt, content hash) with a struct
    * argmax (map-side partial) joined back on the same composite key —
    * co-partitioned, no window, and the content column reduces to its
    * 32-hex hash AT THE PROJECTION, so response text never enters the
    * exchange.
    */
  def dedupResponses(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      contentCol: String
  ): DataFrame = {
    requireNumericId(responses, idCol, "dedupResponses")
    val hashed = responses
      .select(
        col(promptCol),
        col(idCol),
        col(scoreCol),
        md5(col(contentCol)).as("content_hash")
      )
    val best = hashed
      .groupBy(col(promptCol), col("content_hash"))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id"))).as("b")
      )
      .select(
        col(promptCol),
        col("content_hash"),
        (-col("b")("neg_id")).as("__best_id")
      )
    hashed
      .join(best, Seq(promptCol, "content_hash"))
      .withColumn("keep", col(idCol) === col("__best_id"))
      .select(col(promptCol), col(idCol), col(scoreCol), col("content_hash"), col("keep"))
  }

  /** Unroll preference pairs to POINTWISE binary-feedback rows — the
    * KTO-style format (each response its own example with a
    * desirable/undesirable label) trained when preferences arrive
    * unpaired or the loss is pointwise: the chosen member emits
    * `label = 1`, the rejected `label = -1`, each keeping its score.
    * Two projections of the pair table and a union — no shuffle, no
    * join; row count is exactly 2 × pairs.
    */
  def unrollPairs(pairs: DataFrame, promptCol: String): DataFrame =
    pairs
      .select(
        col(promptCol),
        col("chosen_id").as("doc_id"),
        col("chosen_score").as("score"),
        lit(1).as("label")
      )
      .unionByName(
        pairs.select(
          col(promptCol),
          col("rejected_id").as("doc_id"),
          col("rejected_score").as("score"),
          lit(-1).as("label")
        )
      )

  /** Group-relative advantage (the GRPO baseline): each response's
    * score centered against ITS PROMPT's mean in exact integer
    * micro-units — `adv_micro = 1e6·score − (1e6·Σscore div n)` over
    * the prompt group. Group-relative centering is the
    * reward-baseline trick of critic-free RL (the group mean IS the
    * baseline), and the integer floor-division discipline makes the
    * output deterministic across partitionings and engines.
    *
    * Scale shape: one groupBy on the prompt key (map-side partial,
    * O(responses) → O(prompts)) and one equi join back on the same
    * key — co-partitioned with the agg's shuffle, NO broadcast
    * assumption (the prompt space is corpus-sized, unlike
    * [[lengthDebias]]'s bounded bucket table).
    */
  def groupAdvantage(
      responses: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String
  ): DataFrame = {
    val means = responses
      .groupBy(col(promptCol))
      .agg(expr(floorDivSql(s"1000000L * sum($scoreCol)", "count(*)")).as("mean_micro"))
    responses
      .select(col(promptCol), col(idCol), col(scoreCol))
      .join(means, Seq(promptCol))
      .select(
        col(promptCol),
        col(idCol),
        col(scoreCol),
        (lit(1000000L) * col(scoreCol) - col("mean_micro")).as("adv_micro")
      )
  }

  /** Arena-style WIN MATRIX between sampling policies: for every
    * unordered policy pair, on how many prompts does each policy's
    * best response out-score the other's (ties counted separately) —
    * the head-to-head table an RLHF campaign reads to rank checkpoint
    * candidates from the same scored-response corpus the pair build
    * consumes, no extra annotation pass. Returns
    * `(policy_a, policy_b, wins_a, wins_b, ties, n_prompts)` with
    * `policy_a < policy_b` (each pair once) and
    * `wins_a + wins_b + ties == n_prompts` by construction — prompts
    * where either policy has NO response are excluded (the inner
    * join), so the comparison is always like-for-like.
    *
    * Scale shape: one groupBy on (prompt, policy) reduces
    * O(responses) to O(prompts × policies) with map-side partials;
    * the pairing self-join is keyed on the PROMPT (co-partitioned
    * with the agg, each prompt contributing policies² comparison
    * rows — policies are checkpoint counts, single digits); the
    * final agg is O(policies²) output rows.
    */
  def winMatrix(
      responses: DataFrame,
      promptCol: String,
      policyCol: String,
      scoreCol: String
  ): DataFrame =
    matrixFromBest(
      responses
        .groupBy(col(promptCol), col(policyCol))
        .agg(max(col(scoreCol)).as("best")),
      promptCol,
      policyCol
    )

  /** The pairing half of [[winMatrix]], shared with
    * [[winMatrixFromState]]: per-(prompt, policy) bests → the
    * head-to-head matrix. Prompt-keyed self-join (co-partitioned with
    * the agg that produced `best`), O(policies²) comparison rows per
    * prompt, policies being checkpoint counts (single digits).
    */
  private def matrixFromBest(
      best: DataFrame,
      promptCol: String,
      policyCol: String
  ): DataFrame = {
    val a = best.select(
      col(promptCol),
      col(policyCol).as("policy_a"),
      col("best").as("best_a")
    )
    val b = best.select(
      col(promptCol),
      col(policyCol).as("policy_b"),
      col("best").as("best_b")
    )
    a.join(b, Seq(promptCol))
      .filter(col("policy_a") < col("policy_b"))
      .groupBy(col("policy_a"), col("policy_b"))
      .agg(
        sum(when(col("best_a") > col("best_b"), 1L).otherwise(0L)).as("wins_a"),
        sum(when(col("best_b") > col("best_a"), 1L).otherwise(0L)).as("wins_b"),
        sum(when(col("best_a") === col("best_b"), 1L).otherwise(0L)).as("ties"),
        count(lit(1)).as("n_prompts")
      )
  }

  /** INCREMENTAL win-matrix state: fold one batch of scored responses
    * into a persistent per-(prompt, policy) best-score table — the
    * arena-campaign shape, where checkpoint responses arrive over
    * sampling runs and the head-to-head board must stay current
    * without re-aggregating the accumulated corpus. Completes the
    * arena family's batch/incremental triad the way [[pairIngest]]
    * completed pairs ([[winMatrix]] is the batch form; the streaming
    * path drives this per micro-batch via `foreachBatch`, exactly as
    * `pref_stream` drives [[pairIngest]]).
    *
    * State is one row per (prompt, policy) ever seen: `(promptCol,
    * policyCol, best)`. A batch folds in as `max` against the old
    * best — associative, commutative, AND idempotent, so batch order
    * doesn't matter and a replayed batch is a no-op by algebra on top
    * of the `appliedId` exactly-once marker (the shared
    * [[Maintenance.refreshAggregate]] fold protocol: entry-time crash
    * recovery, atomic marker+swap).
    *
    * Read the current matrix back with [[winMatrixFromState]]; the
    * result is IDENTICAL to [[winMatrix]] over every response ever
    * folded (max is a semilattice — any batch split folds to the same
    * per-cell best), at per-batch cost O(batch) + O(state rows)
    * (full-state rewrite per fold, the documented
    * `refreshAggregate` semantics), never O(accumulated responses).
    */
  def winIngest(
      spark: SparkSession,
      batch: DataFrame,
      promptCol: String,
      policyCol: String,
      scoreCol: String,
      statePath: String,
      appliedId: Option[Long] = None
  ): DataFrame = {
    requireKeysNotReserved(Seq(promptCol, policyCol), Set("best"), "winIngest")
    requireStateKeysAgree(spark, statePath, Seq(promptCol, policyCol), "winIngest")
    val partial = batch
      .groupBy(col(promptCol), col(policyCol))
      .agg(max(col(scoreCol)).as("best"))
    val out = Maintenance.foldState(spark, statePath, appliedId, partial) { (old, p) =>
      old
        .unionByName(p)
        .groupBy(col(promptCol), col(policyCol))
        .agg(max(col("best")).as("best"))
    }
    recordStateKeys(spark, statePath, Seq(promptCol, policyCol))
    out
  }

  // ─────────────── state key-column sidecar ───────────────
  //
  // The fold states carry their KEY COLUMN NAMES in a `_state_keys`
  // sidecar (one name per line — the `_buckets` discipline): the
  // `FromState` readers used to infer the prompt/policy columns by
  // ELIMINATING the known value-column names from the schema, which
  // silently misreads a prompt column literally named `best` (or
  // `chosen_id` etc.). The sidecar is re-recorded after EVERY fold
  // (the atomic swap replaces the whole state dir), including the
  // applied-retry no-op path — so a legacy state migrates by
  // replaying any batch. A fold whose key names disagree with the
  // recorded ones is refused LOUDLY before touching the state.

  private def requireKeysNotReserved(
      keys: Seq[String],
      reserved: Set[String],
      caller: String
  ): Unit =
    keys.filter(reserved).foreach { k =>
      throw new IllegalArgumentException(
        s"$caller: key column '$k' collides with the state's reserved value column " +
          s"names [${reserved.toSeq.sorted.mkString(", ")}] — the state schema could " +
          "not distinguish them; rename the column before ingesting"
      )
    }

  private def stateKeysOf(spark: SparkSession, statePath: String): Option[Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Maintenance
      .readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_state_keys"))
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
  }

  private def requireStateKeysAgree(
      spark: SparkSession,
      statePath: String,
      keys: Seq[String],
      caller: String
  ): Unit =
    stateKeysOf(spark, statePath).foreach { stored =>
      require(
        stored == keys,
        s"$caller: state at $statePath was built with key column(s) " +
          s"[${stored.mkString(", ")}] but this fold uses [${keys.mkString(", ")}] — a " +
          "mis-keyed fold would silently corrupt the accumulated state; point at a " +
          "fresh state dir or pass the recorded key columns"
      )
    }

  private def recordStateKeys(spark: SparkSession, statePath: String, keys: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      Maintenance.writeTextFile(
        fs,
        new org.apache.hadoop.fs.Path(root, "_state_keys"),
        keys.mkString("\n")
      )
  }

  private def requireStateKeys(
      spark: SparkSession,
      statePath: String,
      n: Int,
      caller: String,
      ingest: String
  ): Seq[String] = {
    val keys = stateKeysOf(spark, statePath).getOrElse(
      throw new IllegalArgumentException(
        s"$caller: no _state_keys sidecar at $statePath — the state predates key " +
          "recording, and inferring the key columns from the schema silently misreads " +
          s"a key column named like a value column; replay any $ingest batch (an " +
          "applied-id retry is a no-op that still records the keys) or write " +
          "_state_keys by hand (one column name per line)"
      )
    )
    require(
      keys.length == n,
      s"$caller: _state_keys at $statePath records ${keys.length} key column(s) " +
        s"[${keys.mkString(", ")}], expected $n — the sidecar does not match this " +
        "state family"
    )
    keys
  }

  /** The current head-to-head matrix from a [[winIngest]] state table —
    * the same output contract as [[winMatrix]] (each unordered policy
    * pair once, `policy_a < policy_b`, wins/ties partitioning the
    * shared prompts; prompts where either policy has no response yet
    * are excluded by the inner pairing join). The prompt/policy
    * column names come from the state's `_state_keys` sidecar — never
    * inferred from the schema.
    */
  def winMatrixFromState(spark: SparkSession, statePath: String): DataFrame = {
    // reader-side entry healing, lease-gated (r16): a crashed winIngest
    // swap otherwise leaves the state unreadable until the next write
    DurableRoot.wholeSwap(spark, statePath, "winMatrixFromState").healForRead()
    val Seq(promptCol, policyCol) =
      requireStateKeys(spark, statePath, 2, "winMatrixFromState", "winIngest")
    val st = Parquet.read(spark, statePath)
    matrixFromBest(st, promptCol, policyCol)
  }

  /** Bradley-Terry strength ratings from a head-to-head win matrix
    * ([[winMatrix]] / [[winMatrixFromState]] output): the arena
    * family's ranking capstone — pairwise wins in, ONE comparable
    * strength per policy out, the number an arena leaderboard sorts
    * by. This is the same paired-comparison model behind public
    * chatbot-arena leaderboards, fit by its closed-form MM iteration
    * (Hunter 2004, "MM algorithms for generalized Bradley-Terry
    * models") rather than online Elo, so the result is a function of
    * the MATRIX alone — replay-order-free, exactly like the rest of
    * the arena triad.
    *
    * Ties count as half a win to each side (Davidson-style
    * accounting, kept integer by working in DOUBLED win units:
    * `w2_i = Σ_j 2·wins_ij + ties_ij`, never fractional). Per
    * iteration, the MM update
    *
    *   π_i' = W_i / Σ_j n_ij / (π_i + π_j)
    *
    * is evaluated EXACTLY in integer micro-units under floor
    * division: `term_ij = (2·n_ij · 10¹²) / (π_i + π_j)`,
    * `denom_i = Σ_j term_ij` (integer sum — exact, so row order,
    * partitioning, and engine cannot change it), then
    * `π_i' = clamp((w2_i · 10¹²) / denom_i, 1, 10¹⁵)`. The upper
    * clamp bounds the undefeated-policy divergence (the true MLE is
    * +∞ for a policy that never loses); the lower clamp keeps a
    * winless policy's rating positive so later denominators stay
    * well-defined; a policy whose every term floors to zero
    * (denom 0 — no usable information this iteration) keeps its
    * rating. BigInt here, HUGEINT `//` in the DuckDB oracle —
    * identical floors on positive operands, so the fit is
    * bit-portable at every iteration, converged or not.
    *
    * Scale shape: the matrix is O(policies²) and policies are
    * CHECKPOINT counts (single digits to low tens), so the fit is a
    * driver-side loop over a deliberately bounded collect — the
    * [[Packing.apportionBudget]] / BPE-driver-trainer tier's
    * contract, with the same loud `maxPairs` interlock against
    * doc-grained misuse. All corpus-sized work (response scoring,
    * per-(prompt, policy) bests, the matrix agg) is distributed
    * UPSTREAM of this call.
    *
    * Output: `(policy, rating_micro, w2, games)` — rating in
    * micro-units (every policy starts at 1 000 000), `w2` the doubled
    * win count (2·wins + ties over all opponents), `games` the
    * decided-plus-tied game count.
    */
  def btRatings(
      matrix: DataFrame,
      iters: Int = 10,
      maxPairs: Int = 100000
  ): DataFrame = {
    require(iters >= 1, s"btRatings needs at least one MM iteration, got $iters")
    val spark = matrix.sparkSession
    val rows = matrix
      .select(
        col("policy_a").cast("string"),
        col("policy_b").cast("string"),
        col("wins_a").cast("long"),
        col("wins_b").cast("long"),
        col("ties").cast("long")
      )
      .take(maxPairs + 1)
    require(
      rows.length <= maxPairs,
      s"btRatings collected > $maxPairs policy pairs: the fit is for checkpoint-grained " +
        "win matrices (policies², policies in the tens), not prompt- or doc-grained tables"
    )
    val pairs = rows.toIndexedSeq.map { r =>
      require(!r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4), "btRatings: null counts in matrix")
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    require(
      pairs.forall(p => p._3 >= 0 && p._4 >= 0 && p._5 >= 0),
      "btRatings: negative win/tie counts in matrix"
    )
    require(
      pairs.forall(p => p._1 != p._2),
      "btRatings: a policy cannot play itself (policy_a == policy_b row in matrix)"
    )
    require(
      pairs
        .map(p => if (p._1 < p._2) (p._1, p._2) else (p._2, p._1))
        .distinct
        .length == pairs.length,
      "btRatings: duplicate policy pair in matrix (same pair in either orientation) — " +
        "games between two policies must arrive as ONE row or the fit double-counts them"
    )
    // Directed edges: (i, j, n2 = 2·games_ij, w2c = 2·wins_i + ties).
    val edges = pairs.flatMap { case (a, b, wa, wb, t) =>
      val n2 = BigInt(2) * (wa + wb + t)
      Seq((a, b, n2, BigInt(2) * wa + t), (b, a, n2, BigInt(2) * wb + t))
    }
    val policies = edges.map(_._1).distinct.sorted
    val w2 = edges.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val games = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum / 2).toMap
    val Scale = BigInt("1000000000000") // 10^12
    val Cap = BigInt("1000000000000000") // 10^15 micro = 10^9 strength
    var pi: Map[String, BigInt] = policies.map(_ -> BigInt(1000000)).toMap
    val byI = edges.groupBy(_._1)
    (1 to iters).foreach { _ =>
      val next = policies.map { i =>
        val denom = byI(i).map { case (_, j, n2, _) => (n2 * Scale) / (pi(i) + pi(j)) }.sum
        val r =
          if (denom == 0) pi(i)
          else (w2(i) * Scale / denom).max(BigInt(1)).min(Cap)
        i -> r
      }.toMap
      pi = next
    }
    import spark.implicits._
    policies
      .map(p => (p, pi(p).toLong, w2(p).toLong, games(p).toLong))
      .toDF("policy", "rating_micro", "w2", "games")
  }

  /** Reward-model LENGTH-BIAS magnitude — the exact least-squares
    * slope of reward on response length, per policy: the number that
    * tells you HOW MUCH longer-is-better bias each checkpoint's
    * reward signal carries (the bias [[lengthDebias]] removes;
    * published RM audits report exactly this regression). Slope and
    * intercept in integer micro-units under the closed form
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²)
    *
    * evaluated EXACTLY: the four sums are computed distributed as
    * DECIMAL(38,0) (a BIGINT Σxy overflows at ~10⁹ responses × long
    * documents — wraparound would be silent), the final arithmetic is
    * BigInt on the O(policies) collected rows, and both divisions are
    * true FLOOR (numerators go negative on shorter-is-better biases;
    * DuckDB's integer `//` TRUNCATES toward zero — the q181 fixture
    * caught the divergence — so the oracles replay floor explicitly
    * via the non-negative-mod identity `(a - ((a % b) + b) % b) // b`).
    * `intercept_micro = floor((10⁶·Σy − slope_micro·Σx) / n)` — the
    * micro-unit intercept under the already-floored slope, defined
    * that way on both engines. A policy whose responses all share one
    * length has no slope (zero variance) and emits no row,
    * documented like [[Importance.importanceScores]]' no-bigram rule.
    *
    * Scale shape: one policy-keyed agg with map-side partials over
    * the response corpus; the closed-form arithmetic runs on the
    * bounded O(policies) collect (`maxPolicies` interlock).
    */
  def lengthBiasSlope(
      responses: DataFrame,
      policyCol: String,
      xCol: String,
      yCol: String,
      maxPolicies: Int = 10000
  ): DataFrame = {
    val spark = responses.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    val rows = responses
      .groupBy(col(policyCol).cast("string").as("policy"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(y).as("sy"),
        sum(x * y).as("sxy"),
        sum(x * x).as("sxx")
      )
      .take(maxPolicies + 1)
    require(
      rows.length <= maxPolicies,
      s"lengthBiasSlope collected > $maxPolicies '$policyCol' groups: the audit is " +
        "checkpoint-grained (policies), not prompt- or doc-grained"
    )
    def big(r: org.apache.spark.sql.Row, i: Int): BigInt =
      r.getDecimal(i).toBigInteger
    // exact floor division for a possibly-negative numerator, b > 0
    def floorDiv(a: BigInt, b: BigInt): BigInt = (a - a.mod(b)) / b
    val m = BigInt(1000000)
    import spark.implicits._
    rows.toIndexedSeq
      .flatMap { r =>
        val (p, n) = (r.getString(0), BigInt(r.getLong(1)))
        val (sx, sy, sxy, sxx) = (big(r, 2), big(r, 3), big(r, 4), big(r, 5))
        val vxy = n * sxy - sx * sy
        val vxx = n * sxx - sx * sx
        if (vxx <= 0) None // zero length variance: no slope to report
        else {
          val slope = floorDiv(m * vxy, vxx)
          val intercept = floorDiv(m * sy - slope * sx, n)
          Some((p, n.toLong, slope.toLong, intercept.toLong))
        }
      }
      .toDF("policy", "n", "slope_micro", "intercept_micro")
  }

  /** Calibration audit of a Bradley-Terry fit: per policy pair, the
    * win rate the RATINGS predict vs the win rate the matrix actually
    * OBSERVED — the table that tells you whether the arena board can
    * be trusted for pairs it has seen (a large `gap_micro` on a
    * well-played pair means intransitive preferences or a drifting
    * rater, not a noisy fit). Predicted P(a beats b) under the BT
    * model is `π_a / (π_a + π_b)`; observed is `wins_a / decided`
    * (ties excluded — BT's tie-as-half convention lives in the FIT;
    * calibration compares decided outcomes). Pairs with no decided
    * game are excluded (no observation to compare).
    *
    * Both rates are exact integer micro-units. `π` is capped at 10¹⁵
    * (the [[btRatings]] clamp), so `π·10⁶` would overflow BIGINT —
    * the predicted rate is computed by exact long division in two
    * 10³ steps: with `s = π_a + π_b`,
    * `pred = (π_a·10³ div s)·10³ + ((π_a·10³ mod s)·10³ div s)`,
    * which equals `floor(π_a·10⁶ / s)` identically (expand the
    * division: `π_a·10⁶ = (q·s + r)·10³`). All operands nonnegative,
    * so `div` IS floor and DuckDB replays with HUGEINTs bit-for-bit.
    *
    * Scale shape: the ratings table is O(policies) and joins
    * BROADCAST twice into the O(policies²) matrix — nothing here
    * ever sees the corpus.
    */
  def btCalibration(matrix: DataFrame, ratings: DataFrame): DataFrame = {
    val ra = ratings.select(col("policy").as("policy_a"), col("rating_micro").as("pi_a"))
    val rb = ratings.select(col("policy").as("policy_b"), col("rating_micro").as("pi_b"))
    matrix
      .join(broadcast(ra), Seq("policy_a"))
      .join(broadcast(rb), Seq("policy_b"))
      .filter(col("wins_a") + col("wins_b") > 0)
      .select(
        col("policy_a"),
        col("policy_b"),
        col("wins_a"),
        col("wins_b"),
        col("ties"),
        expr(
          "((pi_a * 1000L) div (pi_a + pi_b)) * 1000L + " +
            "(((pi_a * 1000L) % (pi_a + pi_b)) * 1000L) div (pi_a + pi_b)"
        ).as("pred_micro"),
        expr("(wins_a * 1000000L) div (wins_a + wins_b)").as("obs_micro")
      )
      .withColumn("gap_micro", col("pred_micro") - col("obs_micro"))
  }

  /** [[btRatings]] over a [[winIngest]] state table — the arena
    * leaderboard read of the incremental arm: identical to fitting
    * the batch [[winMatrix]] over every response ever folded (the
    * state IS the per-(prompt, policy) best semilattice, so the
    * matrix — and therefore the fit — cannot tell the arms apart).
    */
  def btRatingsFromState(
      spark: SparkSession,
      statePath: String,
      iters: Int = 10
  ): DataFrame =
    btRatings(winMatrixFromState(spark, statePath), iters)

  /** INCREMENTAL preference-pair state: fold one batch of scored
    * responses into a persistent per-prompt extremes table — the
    * RLHF-campaign shape, where responses for a prompt arrive over
    * days of sampling runs and the pair table must stay current
    * without re-aggregating the accumulated corpus. State is one row
    * per prompt seen: `(promptCol, chosen_id, chosen_score,
    * rejected_id, rejected_score)`; a batch folds in as
    * `max/min(struct(...))` against the old extremes, which is
    * associative, commutative, AND idempotent — so batch order
    * doesn't matter and a replayed batch is a no-op by algebra on
    * top of the `appliedId` exactly-once marker (entry-time crash
    * recovery, atomic marker+swap — [[Maintenance.refreshAggregate]]'s
    * audited protocol via the shared fold).
    *
    * Read the current pair table back with [[pairsFromState]]; the
    * result is IDENTICAL to [[preferencePairs]] over every response
    * ever folded (spec-proved on random corpora under arbitrary
    * batch splits), at per-batch cost O(batch) + O(state prompts):
    * the fold unions the batch partial with the FULL per-prompt state
    * and rewrites it ([[Maintenance.refreshAggregate]]'s documented
    * full-state-rewrite semantics) — far below O(accumulated
    * responses), but NOT O(prompts-touched); the state rewrite scales
    * with every prompt ever seen, not just this batch's.
    */
  def pairIngest(
      spark: SparkSession,
      batch: DataFrame,
      promptCol: String,
      idCol: String,
      scoreCol: String,
      statePath: String,
      appliedId: Option[Long] = None
  ): DataFrame = {
    requireNumericId(batch, idCol, "pairIngest")
    requireKeysNotReserved(
      Seq(promptCol),
      Set("chosen_id", "chosen_score", "rejected_id", "rejected_score"),
      "pairIngest"
    )
    requireStateKeysAgree(spark, statePath, Seq(promptCol), "pairIngest")
    val partial = batch
      .groupBy(col(promptCol))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id"))).as("c"),
        min(struct(col(scoreCol).as("s"), col(idCol).as("id"))).as("r")
      )
      .select(
        col(promptCol),
        (-col("c")("neg_id")).as("chosen_id"),
        col("c")("s").as("chosen_score"),
        col("r")("id").as("rejected_id"),
        col("r")("s").as("rejected_score")
      )
    val out = Maintenance.foldState(spark, statePath, appliedId, partial) { (old, p) =>
      old
        .unionByName(p)
        .groupBy(col(promptCol))
        .agg(
          max(struct(col("chosen_score").as("s"), (-col("chosen_id")).as("neg_id")))
            .as("c"),
          min(struct(col("rejected_score").as("s"), col("rejected_id").as("id")))
            .as("r")
        )
        .select(
          col(promptCol),
          (-col("c")("neg_id")).as("chosen_id"),
          col("c")("s").as("chosen_score"),
          col("r")("id").as("rejected_id"),
          col("r")("s").as("rejected_score")
        )
    }
    recordStateKeys(spark, statePath, Seq(promptCol))
    out
  }

  /** The current preference pairs from a [[pairIngest]] state table —
    * the same output contract as [[preferencePairs]] (strict positive
    * margin; zero-margin prompts carry state but emit no pair). The
    * prompt column name comes from the state's `_state_keys` sidecar —
    * never inferred from the schema.
    */
  def pairsFromState(spark: SparkSession, statePath: String): DataFrame = {
    // reader-side entry healing, lease-gated (r16) — see winMatrixFromState
    DurableRoot.wholeSwap(spark, statePath, "pairsFromState").healForRead()
    val Seq(promptCol) =
      requireStateKeys(spark, statePath, 1, "pairsFromState", "pairIngest")
    val st = Parquet.read(spark, statePath)
    st.select(
      col(promptCol),
      col("chosen_id"),
      col("rejected_id"),
      col("chosen_score"),
      col("rejected_score"),
      (col("chosen_score") - col("rejected_score")).as("margin")
    ).filter(col("margin") > 0)
  }

  /** Preference pairs FROM A BRANCHED TURN STORE: sibling turns of the
    * response role under the SAME parent are regenerations of the same
    * context — a user hit "regenerate" (or the sampler fanned out N
    * continuations) and the turns that share a parent are competing
    * answers to one prompt. With per-turn scores (RM rewards, rater
    * votes, accept/edit signals) every such sibling group is a DPO
    * pair for free: chosen = argmax score, rejected = argmin, exactly
    * [[preferencePairs]]' contract (ties to the smaller turn id so the
    * pair is a total deterministic function of the table; groups whose
    * scores all tie — including single-child groups — emit no pair,
    * zero-margin pairs carry no signal). TIE-DROP CONTRACT: a sibling
    * group of n ≥ 2 regenerations whose max score EQUALS its min score
    * is silently absent from the output — under a coarse-grained rater
    * (binary thumbs, small integer scales) that can be a large share
    * of the groups, so audit the shrinkage with
    * [[branchTiesDropped]] (the `branch_pairs` verb prints it).
    * This is the tree store's
    * NATIVE preference signal — the pairs a flat response table never
    * sees because the branching structure is what encodes "same
    * prompt".
    *
    * Output: `(conv_id, parent_id, chosen_id, rejected_id,
    * chosen_score, rejected_score, margin)` — `parent_id` is the
    * shared prompt turn; render its root→parent path with
    * [[ConvTree.treePaths]] when the trainer wants the textual prompt.
    *
    * Scale shape: one filter + ONE (conv, parent)-keyed agg over the
    * response-role turns (map-side combined max/min structs), nothing
    * else — no self-join, no window, content never enters.
    */
  def branchPairs(
      turns: DataFrame,
      convCol: String,
      turnCol: String,
      parentCol: String,
      roleCol: String,
      scoreCol: String,
      respRole: String
  ): DataFrame = {
    requireNumericId(turns, turnCol, "branchPairs")
    turns
      .filter(col(roleCol) === respRole && col(parentCol).isNotNull)
      .groupBy(col(convCol).as("conv_id"), col(parentCol).as("parent_id"))
      .agg(
        count(lit(1)).as("__n"),
        max(struct(col(scoreCol).as("s"), (-col(turnCol)).as("neg_id"))).as("c"),
        min(struct(col(scoreCol).as("s"), col(turnCol).as("id"))).as("r")
      )
      .filter(col("__n") >= 2)
      .select(
        col("conv_id"),
        col("parent_id"),
        (-col("c")("neg_id")).as("chosen_id"),
        col("r")("id").as("rejected_id"),
        col("c")("s").as("chosen_score"),
        col("r")("s").as("rejected_score"),
        (col("c")("s") - col("r")("s")).as("margin")
      )
      .filter(col("margin") > 0)
  }

  /** The number of sibling-regeneration groups [[branchPairs]] SILENTLY
    * drops under its tie contract: groups of n ≥ 2 response-role turns
    * under one parent whose scores all tie (max = min ⇒ the emitted
    * pair would carry zero margin). A coarse-score rater pipeline
    * (binary thumbs, 3-point scales) loses a real share of its groups
    * here — this makes the shrinkage visible instead of inferred. Same
    * one keyed partial agg as the pair build; no join, no window.
    */
  def branchTiesDropped(
      turns: DataFrame,
      convCol: String,
      turnCol: String,
      parentCol: String,
      roleCol: String,
      scoreCol: String,
      respRole: String
  ): Long = {
    requireNumericId(turns, turnCol, "branchTiesDropped")
    turns
      .filter(col(roleCol) === respRole && col(parentCol).isNotNull)
      .groupBy(col(convCol), col(parentCol))
      .agg(
        count(lit(1)).as("__n"),
        max(col(scoreCol)).as("__mx"),
        min(col(scoreCol)).as("__mn")
      )
      .filter(col("__n") >= 2 && col("__mx") === col("__mn"))
      .count()
  }

  /** SFT loss-mask intervals by ROLE: given a conversation's turns,
    * the token intervals (in the RENDERED conversation's token space —
    * turns concatenated in order, whitespace-tokenized) covered by
    * `trainRole` turns. An SFT trainer masks the loss to assistant
    * tokens only — training on user turns teaches the model to
    * hallucinate user messages — and this emits the side-file its
    * loader reads: `(conv_id, turn key, tok_start, tok_end)` per
    * trainable turn, half-open intervals that never overlap and
    * always tile exactly the turn's own token count.
    *
    * Scale shape: one per-turn token-count projection (content never
    * leaves its row), then ONE running-sum window PARTITIONED BY the
    * conversation with an explicit ROWS frame — a partition is one
    * dialogue's turns, bounded by conversation length, never the
    * corpus; the role filter prunes the output after offsets are
    * fixed (a masked-out turn still advances the offsets, which is
    * the point).
    */
  def roleMaskIntervals(
      turns: DataFrame,
      convCol: String,
      turnCol: String,
      roleCol: String,
      contentCol: String,
      trainRole: String
  ): DataFrame =
    roleMaskIntervalsWeighted(
      turns.withColumn(
        "__rm_toks",
        size(split(col(contentCol), "\\s+")).cast("long")
      ),
      convCol,
      turnCol,
      roleCol,
      "__rm_toks",
      trainRole
    )

  /** [[roleMaskIntervals]] with an EXPLICIT per-turn token count
    * instead of the whitespace count of a content column — the same
    * bridge as `Packing.layoutWeighted`: feed it per-turn
    * `Bpe.segmentCounts` counts and the mask intervals are in the
    * tokens the model will actually see (a loss mask in whitespace
    * coordinates is useless to a BPE-trained model's loader). Same
    * conversation-partitioned ROWS-frame running sum; the weight
    * expression is the only change.
    */
  def roleMaskIntervalsWeighted(
      turns: DataFrame,
      convCol: String,
      turnCol: String,
      roleCol: String,
      nToksCol: String,
      trainRole: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the window runs over the RENAMED conv key — partitioning on the
    // caller's convCol would be unresolvable once it is aliased away
    // (any convCol other than the literal name "conv_id")
    val w = Window
      .partitionBy(col("conv_id"))
      .orderBy(col(turnCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .select(
        col(convCol).as("conv_id"),
        col(turnCol),
        col(roleCol),
        col(nToksCol).cast("long").as("__n_toks")
      )
      .withColumn(
        "tok_start",
        coalesce(sum(col("__n_toks")).over(w), lit(0L))
      )
      .filter(col(roleCol) === trainRole)
      .select(
        col("conv_id"),
        col(turnCol),
        col("tok_start"),
        (col("tok_start") + col("__n_toks")).as("tok_end")
      )
  }

  /** Pair-level decontamination: drop every preference pair that
    * TOUCHES a contaminated response — a pair whose chosen OR
    * rejected member leaked from an eval set is poisoned on either
    * side (training on the chosen memorizes the benchmark; training
    * against the rejected anti-memorizes it), so the gate is
    * any-member, not chosen-only.
    *
    * `bad` is the contaminated-id table (from the decontamination
    * family — exact q129, fuzzy q133, or semantic q135 verdicts);
    * each column in `memberCols` is anti-joined against it.
    *
    * Scale shape: the contaminated set is eval-sized (small against
    * a pair corpus), so each gate is a BROADCAST left-anti join —
    * the pair table streams, nothing shuffles.
    */
  def purgePairs(
      pairs: DataFrame,
      memberCols: Seq[String],
      bad: DataFrame,
      badIdCol: String
  ): DataFrame = {
    require(memberCols.nonEmpty, "purgePairs needs at least one member column")
    val badIds = broadcast(bad.select(col(badIdCol)).distinct())
    memberCols.foldLeft(pairs) { (acc, m) =>
      acc.join(badIds, acc(m) === badIds(badIdCol), "left_anti")
    }
  }
}
