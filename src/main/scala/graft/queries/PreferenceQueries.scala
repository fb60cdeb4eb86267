package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Preference
import graft.sources.Parquet

/** Post-training (SFT / RLHF) preference-data queries over the
  * synthetic tables: the documents table stands in for a scored
  * response corpus (each doc a candidate completion, its prompt the
  * id-derived group, its reward a deterministic pseudo reward-model
  * score with a built-in length bias), and the events table for a
  * message log to flatten into SFT turns. Every query is
  * DuckDB-replayable: the pseudo-scores use the engine's portable
  * md5-prefix hash and all derived arithmetic is integer.
  */
object PreferenceQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    val raw = Parquet.read(spark, s"$dir/documents.parquet")
    val want = spark.sparkContext.defaultParallelism
    if (raw.rdd.getNumPartitions < want) raw.repartition(want) else raw
  }

  /** 28-bit integer hash of a string via md5 (deterministic everywhere). */
  private def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** The simulated scored-response corpus: `prompt_id = doc_id % 50`
    * groups the docs into 50-response prompts, `reward` is the
    * portable hash of the id (the pseudo reward-model head) PLUS a
    * capped token-count term — a deliberate length bias for
    * [[q149LengthDebias]] to remove. Integer throughout.
    */
  private[graft] def responses(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      (col("doc_id") % 50).as("prompt_id"),
      col("doc_id"),
      (h28(concat(lit("rm_"), col("doc_id").cast("string"))) % 1000 +
        least(size(split(col("text"), "\\s+")).cast("long"), lit(200L)))
        .as("reward"),
      size(split(col("text"), "\\s+")).cast("long").as("n_toks")
    )

  /** DPO preference pairs ([[graft.operators.Preference.preferencePairs]]):
    * per prompt, the argmax-reward response as `chosen` and the
    * argmin as `rejected` (ties to the smaller id), with the strict
    * positive margin guaranteed — the table a DPO trainer consumes.
    * One prompt-keyed agg of two struct argmaxes, map-side partials;
    * DuckDB replays with two row_number windows and a self-join.
    */
  def q147PreferencePairs(spark: SparkSession, dir: String): DataFrame =
    Preference.preferencePairs(
      responses(spark, dir),
      "prompt_id",
      "doc_id",
      "reward"
    )

  /** Best-of-n selection ([[graft.operators.Preference.bestOfN]]): the
    * top-3 responses of every prompt by reward (ties to the smaller
    * id) with 1-based ranks — the rejection-sampling keep set. The
    * row_number window partitions by the prompt (10 responses per
    * partition here, never the corpus).
    */
  def q148BestOfN(spark: SparkSession, dir: String): DataFrame =
    Preference.bestOfN(responses(spark, dir), "prompt_id", "doc_id", "reward", n = 3)

  /** Length-debiased rewards ([[graft.operators.Preference.lengthDebias]]):
    * each response's reward centered against its 50-token length
    * cohort in exact integer micro-units — the published mitigation
    * for reward models' longer-is-better bias. The q147 reward's
    * `least(n_toks, 200)` term is exactly the bias this removes
    * within each bucket. One bucket agg + one broadcast join back.
    */
  def q149LengthDebias(spark: SparkSession, dir: String): DataFrame =
    Preference.lengthDebias(
      responses(spark, dir),
      "doc_id",
      "reward",
      "n_toks",
      bucketWidth = 50L
    )

  /** Conversation-turn flattening ([[graft.operators.Preference.flattenTurns]]):
    * the events log reshaped to SFT `(conv_id, turn_idx, role,
    * content)` rows — each user's events one conversation, turns
    * ordered by (ts, event_id), roles alternating from 'user'. The
    * window partitions by conversation (≤ a dialogue's length).
    */
  def q150TurnFlatten(spark: SparkSession, dir: String): DataFrame =
    Preference.flattenTurns(
      Parquet.read(spark, s"$dir/events.parquet"),
      convCol = "user_id",
      tsCol = "ts",
      tieCol = "event_id",
      contentCol = "event_type"
    )

  /** Multi-rater reconciliation ([[graft.operators.Preference.raterAgreement]]):
    * three deterministic pseudo-raters score every response
    * (portable hash of (rater, id) mod 100); the operator collapses
    * to per-response n_raters / integer-micro mean / range and flags
    * `disputed` at range >= 40 — the re-annotation triage table. One
    * id-keyed agg over the 3x ratings rows.
    */
  def q151RaterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val ratings = responses(spark, dir)
      .select(col("doc_id"))
      .withColumn("rater", explode(array(lit(0), lit(1), lit(2))))
      .withColumn(
        "score",
        h28(
          concat(
            lit("rate_"),
            col("rater").cast("string"),
            lit("_"),
            col("doc_id").cast("string")
          )
        ) % 100
      )
    Preference.raterAgreement(ratings, "doc_id", "score", disputeRange = 40L)
  }

  /** SFT role-mask intervals ([[graft.operators.Preference.roleMaskIntervals]]):
    * documents simulate conversation turns (`conv_id = doc_id % 20`,
    * turn order by id, roles alternating user/assistant via
    * `(doc_id div 20) % 2` — within a conversation consecutive turns
    * flip parity), and the operator emits the assistant turns' token
    * intervals in each rendered conversation's token space — the
    * loss-mask side-file an SFT loader reads. One conversation-
    * partitioned running-sum window under an explicit ROWS frame;
    * masked-out user turns still advance the offsets. DuckDB replays
    * the same window.
    */
  def q153SftMask(spark: SparkSession, dir: String): DataFrame = {
    val turns = docs(spark, dir).select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant"))
        .as("role"),
      col("text").as("content")
    )
    Preference.roleMaskIntervals(
      turns,
      "conv_id",
      "turn_key",
      "role",
      "content",
      trainRole = "assistant"
    )
  }

  /** SFT packing with role masks, end to end
    * ([[graft.operators.Packing.projectIntervals]]): conversations
    * (the q153 simulation) packed as atomic units at budget 512 via a
    * token-total [[graft.operators.Packing.layoutWeighted]] layout,
    * and each assistant turn's q153 interval projected into
    * PACK-LOCAL `[0, 512)` coordinates, split at pack boundaries —
    * the complete mask side-file an SFT trainer's loader applies to
    * memory-mapped pack rows. One conv-keyed equi join + the bounded
    * pack-range explode; DuckDB replays the layout cumsum, the turn
    * window, and the interval arithmetic.
    */
  def q154SftPackMasks(spark: SparkSession, dir: String): DataFrame = {
    val turns = docs(spark, dir).select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant"))
        .as("role"),
      col("text").as("content")
    )
    val convTotals = turns
      .groupBy(col("conv_id"))
      .agg(sum(size(split(col("content"), "\\s+")).cast("long")).as("c_toks"))
    val man = graft.operators.Packing.manifest(
      graft.operators.Packing
        .layoutWeighted(convTotals, "conv_id", "c_toks", nShards = 8),
      "conv_id",
      budget = 512L
    )
    graft.operators.Packing.projectIntervals(
      man,
      q153SftMask(spark, dir),
      "conv_id",
      budget = 512L,
      carryCols = Seq("turn_key")
    )
  }

  /** Incremental preference pairs
    * ([[graft.operators.Preference.pairIngest]]): the q147 pair table
    * maintained as a persistent per-prompt extremes state — the
    * responses arrive in a parity-split two-batch ingest (evens then
    * odds), batch 2 is REPLAYED (exactly-once means the replay is a
    * no-op by both the applied-id marker and the max/min algebra),
    * and the state's pair read-back must equal the one-shot q147 over
    * the full corpus — which is exactly the SQL DuckDB replays. NB
    * the bench number times TWO durable state folds plus the replay
    * per rep, by design.
    */
  def q155PrefIngest(spark: SparkSession, dir: String): DataFrame = {
    val r = responses(spark, dir)
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-pref-ingest")
      .resolve("state")
      .toString
    Preference.pairIngest(
      spark, r.filter(col("doc_id") % 2 === 0),
      "prompt_id", "doc_id", "reward", statePath, Some(1L))
    Preference.pairIngest(
      spark, r.filter(col("doc_id") % 2 === 1),
      "prompt_id", "doc_id", "reward", statePath, Some(2L))
    // replay of an applied batch — exactly-once means this is a no-op
    Preference.pairIngest(
      spark, r.filter(col("doc_id") % 2 === 1),
      "prompt_id", "doc_id", "reward", statePath, Some(2L))
    // Land the pair read-back as parquet NEXT TO the state, drop the
    // state dir, and return a scan of the landing — a distributed
    // write + read, never a driver-side collect (the pair table is
    // O(prompts), but a declared query should not MODEL a driver
    // materialization even at fixture scale). The tmp landing is
    // JVM-run-scoped scratch, same lifecycle as the state it replaces.
    val landing = java.nio.file.Paths.get(statePath).getParent.resolve("pairs").toString
    Preference
      .pairsFromState(spark, statePath)
      .write
      .mode("overwrite")
      .parquet(landing)
    org.apache.commons.io.FileUtils
      .deleteDirectory(java.nio.file.Paths.get(statePath).toFile)
    Parquet.read(spark, landing)
  }

  /** SFT role masks in the TRAINED tokenizer's token space
    * ([[graft.operators.Preference.roleMaskIntervalsWeighted]]): the
    * q153 conversation simulation with per-turn lengths measured in
    * LEARNED-BPE tokens (the q115 8-merge table applied via
    * `Bpe.segmentCounts`) instead of whitespace — a loss mask in
    * whitespace coordinates is useless to a BPE-trained model's
    * loader, so the production side-file must be emitted in the
    * tokens the model actually sees. The merge fold runs over the
    * distinct-word table, one join back for per-doc counts, then the
    * same conversation-partitioned running sum; DuckDB replays the 8
    * unrolled merge rounds, the per-doc counts, and the window.
    */
  def q158SftBpeMask(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.Bpe
      .learnMerges(d, "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    val counts = graft.operators.Bpe
      .segmentCounts(d, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val turns = counts.select(
      (col("doc_id") % 20).as("conv_id"),
      col("doc_id").as("turn_key"),
      when(expr("(doc_id div 20) % 2") === 0, lit("user"))
        .otherwise(lit("assistant"))
        .as("role"),
      col("n_bpe_tokens")
    )
    Preference.roleMaskIntervalsWeighted(
      turns,
      "conv_id",
      "turn_key",
      "role",
      "n_bpe_tokens",
      trainRole = "assistant"
    )
  }

  /** Within-prompt response dedup
    * ([[graft.operators.Preference.dedupResponses]]): duplicated
    * completions simulated by giving each even/odd id pair the EVEN
    * id's text (one canonical-text self-join), prompts as consecutive
    * blocks of 10 ids so the duplicates land in the SAME prompt —
    * each prompt then holds 5 content groups of 2, and the operator
    * must keep exactly the higher-rewarded copy of each (ties to the
    * smaller id). One (prompt, content-hash) argmax agg + the
    * co-partitioned join back; text reduces to its md5 at the
    * projection. DuckDB replays the canonical-text join and a
    * row_number window.
    */
  def q159ResponseDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val resp = d.select(
      expr("doc_id div 10").as("prompt_id"),
      col("doc_id"),
      (h28(concat(lit("rm_"), col("doc_id").cast("string"))) % 1000).as("reward"),
      expr("doc_id div 2 * 2").as("src_id")
    )
    val canon = d.select(col("doc_id").as("src_id"), col("text"))
    Preference.dedupResponses(
      resp.join(canon, Seq("src_id")),
      "prompt_id",
      "doc_id",
      "reward",
      "text"
    )
  }

  /** Policy win matrix ([[graft.operators.Preference.winMatrix]]):
    * three simulated sampling policies (`'p' || doc_id % 3`) compete
    * on the shared prompt space — per unordered policy pair, on how
    * many prompts each policy's best reward beats the other's, with
    * ties separate and wins_a + wins_b + ties == n_prompts. One
    * (prompt, policy) agg, a prompt-keyed pairing join, an
    * O(policies²) roll-up; DuckDB replays the same two-level
    * aggregation.
    */
  def q160WinMatrix(spark: SparkSession, dir: String): DataFrame =
    Preference.winMatrix(
      responses(spark, dir)
        .withColumn("policy", concat(lit("p"), (col("doc_id") % 3).cast("string"))),
      "prompt_id",
      "policy",
      "reward"
    )

  /** Incremental win matrix ([[graft.operators.Preference.winIngest]]):
    * the q160 arena board maintained as a persistent per-(prompt,
    * policy) best-score state — completing the arena family's
    * batch/incremental triad the way q155 completed pairs. The
    * responses arrive in a parity-split two-batch ingest (evens then
    * odds), batch 2 is REPLAYED (exactly-once: no-op by both the
    * applied-id marker and the max semilattice), and the state's
    * matrix read-back must equal the one-shot q160 over the full
    * corpus — which is exactly the SQL DuckDB replays. Same
    * scratch-state + parquet-landing materialization discipline as
    * q155 (distributed write + scan, no driver collect); NB the bench
    * number times TWO durable state folds plus the replay per rep, by
    * design.
    */
  def q161WinIngest(spark: SparkSession, dir: String): DataFrame = {
    val r = responses(spark, dir)
      .withColumn("policy", concat(lit("p"), (col("doc_id") % 3).cast("string")))
    val statePath = java.nio.file.Files
      .createTempDirectory("graft-win-ingest")
      .resolve("state")
      .toString
    Preference.winIngest(
      spark, r.filter(col("doc_id") % 2 === 0),
      "prompt_id", "policy", "reward", statePath, Some(1L))
    Preference.winIngest(
      spark, r.filter(col("doc_id") % 2 === 1),
      "prompt_id", "policy", "reward", statePath, Some(2L))
    // replay of an applied batch — exactly-once means this is a no-op
    Preference.winIngest(
      spark, r.filter(col("doc_id") % 2 === 1),
      "prompt_id", "policy", "reward", statePath, Some(2L))
    val landing = java.nio.file.Paths.get(statePath).getParent.resolve("matrix").toString
    Preference
      .winMatrixFromState(spark, statePath)
      .write
      .mode("overwrite")
      .parquet(landing)
    org.apache.commons.io.FileUtils
      .deleteDirectory(java.nio.file.Paths.get(statePath).toFile)
    Parquet.read(spark, landing)
  }

  /** Bradley-Terry arena ratings
    * ([[graft.operators.Preference.btRatings]]): the q160 win matrix
    * fit to one strength per policy — 10 MM iterations of the
    * paired-comparison model behind public arena leaderboards, ties
    * as half-wins, every step exact integer micro-unit arithmetic
    * under floor division so DuckDB replays the fit bit-for-bit by
    * unrolling the same 10 updates over HUGEINTs. The corpus-sized
    * work (scoring + the matrix agg) is distributed; the fit itself
    * is the documented bounded O(policies²) driver loop.
    */
  def q163BtRatings(spark: SparkSession, dir: String): DataFrame =
    Preference.btRatings(q160WinMatrix(spark, dir), iters = 10)

  /** Bradley-Terry calibration audit
    * ([[graft.operators.Preference.btCalibration]]): per policy
    * pair, the win rate the q163 ratings PREDICT (π_a/(π_a+π_b),
    * exact micro-units via the two-step long division) against the
    * rate the q160 matrix OBSERVED among decided games — the
    * trust-check on the arena board. Two broadcast joins of the
    * O(policies) ratings into the O(policies²) matrix; DuckDB
    * replays the fit and the division chain in HUGEINTs.
    */
  def q166BtCalibration(spark: SparkSession, dir: String): DataFrame = {
    // one matrix, both consumers — the fit's bounded collect already
    // materializes it, so the calibration join reuses the same plan
    val m = q160WinMatrix(spark, dir)
    Preference.btCalibration(m, Preference.btRatings(m, iters = 10))
  }

  /** Reward-model length-bias slope
    * ([[graft.operators.Preference.lengthBiasSlope]]): per policy,
    * the exact least-squares regression of reward on token count in
    * integer micro-units — the magnitude of the longer-is-better
    * bias the fixture plants by construction (`least(n_toks, 200)`
    * inside the reward), and the audit row an RM dashboard tracks
    * per checkpoint. One policy-keyed DECIMAL(38,0) agg, closed-form
    * BigInt floor arithmetic on the O(policies) collect; DuckDB
    * replays the sums and both floor divisions in HUGEINTs.
    */
  def q169LengthBiasSlope(spark: SparkSession, dir: String): DataFrame =
    Preference.lengthBiasSlope(
      responses(spark, dir)
        .withColumn("policy", concat(lit("p"), (col("doc_id") % 3).cast("string"))),
      "policy",
      "n_toks",
      "reward"
    )

  /** Branched-conversation training paths
    * ([[graft.operators.ConvTree.treePaths]]): the docs table stands
    * in for a turn store with PARENT pointers — 20-turn conversation
    * blocks where every 5th turn regenerates from three turns back
    * (`t%5==4 → parent t−3`), giving each conversation 5 leaves / 5
    * root→leaf paths with shared prefixes. The operator flattens the
    * tree to per-path memberships with the first-visit rule: every
    * turn TRAINS on exactly one path (its smallest leaf) and rides
    * along mask-off elsewhere, so early turns are not over-weighted
    * by their fan-out. Anti-join leaves + pointer-doubling ancestor
    * closure (log₂(depth) keyed self-joins, everything keyed by
    * (conv, turn)) + one turn-keyed min; DuckDB replays with a
    * recursive CTE.
    */
  def q172TreePaths(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConvTree.treePaths(
      docs(spark, dir).select(
        expr("doc_id div 20").as("conv_id"),
        col("doc_id").as("turn_id"),
        expr(
          "CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS BIGINT) " +
            "WHEN doc_id % 5 = 4 THEN doc_id - 3 ELSE doc_id - 1 END"
        ).as("parent_id")
      ),
      "conv_id",
      "turn_id",
      "parent_id"
    )

  /** Tree-rendered path memberships
    * ([[graft.operators.ConvTree.renderPaths]]): the q172 branched
    * turn store with alternating user/assistant roles (turn parity)
    * and the doc text as content, flattened to per-(path, turn)
    * render rows with the EFFECTIVE role — 'assistant' exactly on
    * first-visit assistant memberships, 'context' everywhere else —
    * the table the tree-aware `sft_release --parent_col` chain packs
    * and masks, so every turn's tokens go loss-on exactly once while
    * shared prefixes ride along in-context. treePaths' conv-keyed
    * pointer-doubling closure plus ONE (conv, turn)-keyed content
    * join; DuckDB replays with the q172 recursive CTE + the same
    * CASE.
    */
  def q174TreeRender(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConvTree.renderPaths(
      docs(spark, dir).select(
        expr("doc_id div 20").as("conv_id"),
        col("doc_id").as("turn_id"),
        expr(
          "CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS BIGINT) " +
            "WHEN doc_id % 5 = 4 THEN doc_id - 3 ELSE doc_id - 1 END"
        ).as("parent_id"),
        expr("CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END").as("role"),
        col("text").as("content")
      ),
      "conv_id",
      "turn_id",
      "parent_id",
      "role",
      "content",
      "assistant"
    )

  /** Branch preference pairs ([[graft.operators.Preference.branchPairs]]):
    * the q172 branched turn store's NATIVE preference signal — sibling
    * assistant turns under the same parent are regenerations of one
    * context, and with per-turn rewards (the `rw_` hash here; RM
    * scores in production) each sibling group yields a DPO pair:
    * chosen = argmax, rejected = argmin, preferencePairs' exact
    * tie/zero-margin contract. In the fixture every even turn ≡ 1 mod
    * 5 (away from the block edge) has two assistant children (t+1 via
    * the chain pointer, t+3 via the regeneration pointer). One
    * (conv, parent)-keyed agg; DuckDB replays with ordered array_aggs.
    */
  def q177BranchPairs(spark: SparkSession, dir: String): DataFrame =
    Preference.branchPairs(
      docs(spark, dir).select(
        expr("doc_id div 20").as("conv_id"),
        col("doc_id").as("turn_id"),
        expr(
          "CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS BIGINT) " +
            "WHEN doc_id % 5 = 4 THEN doc_id - 3 ELSE doc_id - 1 END"
        ).as("parent_id"),
        expr("CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END").as("role"),
        (h28(concat(lit("rw_"), col("doc_id").cast("string"))) % 1000).as("score")
      ),
      "conv_id",
      "turn_id",
      "parent_id",
      "role",
      "score",
      "assistant"
    )

  /** Rendered branch pairs
    * ([[graft.operators.ConvTree.branchPairsRendered]]): q177's
    * sibling-regeneration pairs as trainer-ready DPO triples — the
    * PROMPT is the root→parent path's contents in order (unique in a
    * tree), chosen/rejected are the competing turns' texts. The
    * prompt renders as a path-prefix read of the conv-keyed treePaths
    * closure anchored at the parent's first-visit membership; DuckDB
    * replays with a recursive ancestor walk from each pair's parent +
    * ordered string_aggs.
    */
  def q178BranchPairsRendered(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ConvTree.branchPairsRendered(
      docs(spark, dir).select(
        expr("doc_id div 20").as("conv_id"),
        col("doc_id").as("turn_id"),
        expr(
          "CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS BIGINT) " +
            "WHEN doc_id % 5 = 4 THEN doc_id - 3 ELSE doc_id - 1 END"
        ).as("parent_id"),
        expr("CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END").as("role"),
        col("text").as("content"),
        (h28(concat(lit("rw_"), col("doc_id").cast("string"))) % 1000).as("score")
      ),
      "conv_id",
      "turn_id",
      "parent_id",
      "role",
      "content",
      "score",
      "assistant"
    )

  /** Durable tree-membership state ([[graft.operators.TreeState]]):
    * the q172 branched turn store folded through the INCREMENTAL state
    * arm in three per-conversation-monotone appends (turn offsets
    * 0–9, 10–14, 15–19 of each 20-turn block — every batch carries
    * leaf extensions, in-batch chains, AND regeneration forks onto
    * earlier batches' nodes), then served straight from the state.
    * The state must equal a from-scratch [[ConvTree.treePaths]] replay
    * — so the oracle is EXACTLY q172's recursive-CTE walk over the
    * full store. Per fold: batch-local closure only (log₂ batch
    * depth, never the store), prefixes read from the state, extended
    * paths replaced under their new leaf keys, first-visit minima
    * recomputed for exactly the affected turns. Like q105/q96, the
    * query exercises the DURABLE path: scratch state dir, 3 folds,
    * memberships read back from parquet.
    */
  def q179TreeState(spark: SparkSession, dir: String): DataFrame = {
    // Demo-query materialization (bounded: O(Σ path length) small
    // rows) — results must outlive the scratch state's cleanup; the
    // OPERATOR returns DataFrames and never collects. Bucket count is
    // sized to the fixture's ~25 conversations inside withFoldedState
    // (the span family's sizing discipline; a campaign store picks
    // hundreds).
    val rows = withFoldedState(spark, dir) { memb =>
      memb
        .collect()
        .toIndexedSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    }
    import spark.implicits._
    rows.toDF("conv_id", "path_id", "pos", "turn_id", "train")
  }

  /** DPO triples in MODEL-token coordinates
    * ([[graft.operators.Bpe.withModelTokenCounts]]): the q178
    * rendered triples with `prompt_toks`/`chosen_toks`/
    * `rejected_toks` counted under an 8-merge BPE table learned on
    * the same corpus (the q175 fixture pattern) — the lengths a DPO
    * trainer actually meters by (loss normalization, batch packing,
    * length debias), in the tokenizer's own space rather than
    * whitespace words. The counts ride as a pure per-row projection
    * on q178's plan: zero added shuffle, no join — the rendered text
    * is tokenized where it already sits. DuckDB replays the merge
    * chain (the q115 oracle), the distinct-word vocabulary under it,
    * and per-member word-unnest count sums.
    */
  def q180DpoTokenCoords(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.operators.Bpe
      .learnMerges(docs(spark, dir), "text", numMerges = 8)
      .map(m => (m.lhs, m.rhs))
    graft.operators.Bpe.withModelTokenCounts(
      q178BranchPairsRendered(spark, dir),
      Seq("prompt", "chosen", "rejected"),
      merges
    )
  }

  /** Rater length bias of the DPO export, measured in MODEL tokens
    * ([[graft.operators.Preference.lengthBiasSlope]] over the q180
    * coordinates): the triples unroll pointwise to (side, toks,
    * score) — side ∈ {chosen, rejected} as the policy key — and the
    * exact micro-unit regression of score on model-token count per
    * side answers the release-gate question "does the rater pay for
    * length in the space the trainer optimizes?" (q169's audit, now
    * runnable over a rendered preference export instead of a raw
    * response corpus). Two projections + a union + one 2-group agg;
    * DuckDB replays the sums and floor divisions in HUGEINTs.
    */
  def q181DpoLengthBias(spark: SparkSession, dir: String): DataFrame = {
    // Pinned: the pointwise unroll reads `t` in BOTH union branches,
    // and Catalyst does not share the common subtree across them — the
    // full q180 chain (walk, render joins, BPE token metering) would
    // execute twice per action. Project to the four consumed columns
    // FIRST (guide §2.3: project before materializing) so the pin holds
    // slim rows, never the rendered text.
    val t = q180DpoTokenCoords(spark, dir)
      .select(col("chosen_toks"), col("rejected_toks"), col("chosen_score"), col("rejected_score"))
      .localCheckpoint()
    Preference.lengthBiasSlope(
      t.select(
        lit("chosen").as("side"),
        col("chosen_toks").as("toks"),
        col("chosen_score").as("score")
      ).unionByName(
        t.select(
          lit("rejected").as("side"),
          col("rejected_toks").as("toks"),
          col("rejected_score").as("score")
        )
      ),
      "side",
      "toks",
      "score"
    )
  }

  /** Content-based PAIR decontamination of the DPO export
    * ([[graft.operators.Dedup.purgeAnyOf]]): the q178 triples minus
    * every pair where the eval set (docs with `doc_id % 10 == 0`,
    * the q54/q129 split) leaks into the PROMPT, the CHOSEN response,
    * OR the REJECTED one — shingle containment ≥ 0.5 against the
    * member's OWN shingle set (q54's asymmetric metric), any-member
    * drop (q152's contract), so a planted eval n-gram in a single
    * chosen response purges exactly that pair. Eval shingles
    * broadcast; one member-stacked semi-join + one keyed verdict agg
    * + one key-level anti-join. DuckDB replays the q178 walk, the
    * member stack, and the q54 shingle chain.
    */
  def q182DpoEvalDecontam(spark: SparkSession, dir: String): DataFrame =
    // Pinned: purgeAnyOf reads its input FOUR times in one plan (the
    // anti-join left side + one stacked projection per member column),
    // and the input here is the full q178 walk+render chain — unpinned,
    // the render joins executed 4x per action. The pin is the triples
    // export itself (the thing being decontaminated), the sane
    // materialization point at any scale.
    graft.operators.Dedup.purgeAnyOf(
      q178BranchPairsRendered(spark, dir).localCheckpoint(),
      docs(spark, dir).filter(col("doc_id") % 10 === 0),
      Seq("conv_id", "parent_id"),
      Seq("prompt", "chosen", "rejected"),
      "text",
      0.5
    )

  /** Length-grouped DPO batch layout
    * ([[graft.operators.Packing.lengthGroupedBatches]]): the q180
    * triples (total length = prompt + chosen + rejected in MODEL
    * tokens) laid out in ascending-length order and cut into atomic
    * 8-pair batches — the padding-minimizing batch manifest a DPO
    * loader actually ships (a pair is never split; each batch pads to
    * its longest member, so sorting by length is what keeps `max·n −
    * Σ` small). Only (key, length) metadata enters the two-pass rank;
    * the rendered text never shuffles. DuckDB replays the q180 counts
    * + one global row_number + the batch arithmetic.
    */
  def q183DpoLengthBatches(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.lengthGroupedBatches(
      q180DpoTokenCoords(spark, dir).withColumn(
        "total_toks",
        col("prompt_toks") + col("chosen_toks") + col("rejected_toks")
      ),
      Seq("conv_id", "parent_id"),
      "total_toks",
      batchSize = 8
    )

  /** Batch padding-efficiency audit
    * ([[graft.operators.Packing.batchPadStats]]): per q183 batch, the
    * member count, the longest member (what the loader pads to), the
    * token sum, the padding waste `max·n − Σ`, and the waste in
    * integer per-mille of the padded volume — the q138
    * pack-efficiency audit re-expressed for ATOMIC padded batches,
    * i.e. the number the ascending-length layout exists to minimize.
    * One batch-keyed map-side agg on the assignment manifest; DuckDB
    * replays the q183 chain + the agg + the floor division.
    */
  def q184DpoBatchPadding(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.batchPadStats(q183DpoLengthBatches(spark, dir), "total_toks")

  /** The q178 fixture's full turn store (structure + role/content/
    * score) and its 3-append batch split — shared by the state-served
    * arms (q185/q186): fold the structure into a scratch [[TreeState]]
    * in three waves, then SERVE the render from the persisted
    * memberships instead of re-walking the store.
    */
  private def turnStore(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      expr("doc_id div 20").as("conv_id"),
      col("doc_id").as("turn_id"),
      expr(
        "CASE WHEN doc_id % 20 = 0 THEN CAST(NULL AS BIGINT) " +
          "WHEN doc_id % 5 = 4 THEN doc_id - 3 ELSE doc_id - 1 END"
      ).as("parent_id"),
      expr("CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END").as("role"),
      col("text").as("content"),
      (h28(concat(lit("rw_"), col("doc_id").cast("string"))) % 1000).as("score")
    )

  /** Run `f` against a scratch 3-fold [[graft.operators.TreeState]]
    * over the q178 fixture store (every wave carrying leaf extensions,
    * in-batch chains, and forks onto earlier waves), handing it the
    * state-served membership table; the state dir is torn down after
    * `f` materializes its result.
    */
  private def withFoldedState[T](spark: SparkSession, dir: String)(
      f: DataFrame => T): T = {
    // Pinned: each of the 3 folds runs TWO actions over its batch (the
    // touched-bucket distinct and the staging write), so an unpinned
    // turn table re-scanned the docs parquet + recomputed the derived
    // columns six times per query. The pin holds the three id columns
    // only — never content.
    val t = turnStore(spark, dir)
      .select(col("conv_id"), col("turn_id"), col("parent_id"))
      .localCheckpoint()
    val root = java.nio.file.Files.createTempDirectory("graft-treestate-q")
    try {
      val state = root.resolve("tree").toString
      Seq((0, 10), (10, 15), (15, 20)).zipWithIndex.foreach { case ((lo, hi), i) =>
        graft.operators.TreeState.fold(
          spark,
          t.filter(col("turn_id") % 20 >= lo && col("turn_id") % 20 < hi),
          "conv_id", "turn_id", "parent_id", state, Some(i.toLong), buckets = 8)
      }
      f(graft.operators.TreeState.memberships(spark, state))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** STATE-SERVED rendered branch pairs
    * ([[graft.operators.ConvTree.branchPairsRenderedFrom]] over a
    * 3-fold [[graft.operators.TreeState]]): the production DPO serving
    * shape — the turn store folds into the durable membership state
    * per drain, and every render reads the state instead of re-walking
    * the store. q179 proves the STATE equals the from-scratch walk;
    * this row proves a RENDER SERVED FROM IT equals the from-scratch
    * q178 triples — so the oracle IS q178's recursive ancestor walk
    * over the full store ("serving from state ≡ serving from scratch"
    * as a hash-green row). Like q179, the query exercises the durable
    * path: scratch state dir, 3 folds, memberships read back from
    * parquet, one anchored prefix read + keyed content joins to
    * render.
    */
  def q185StateServedPairs(spark: SparkSession, dir: String): DataFrame = {
    val rows = withFoldedState(spark, dir) { memb =>
      graft.operators.ConvTree
        .branchPairsRenderedFrom(
          // NOT pinned: the render reads the turn store four times in
          // one plan, but each read is a parquet scan whose real
          // statistics let the planner broadcast the content sides — a
          // localCheckpoint pin (default huge sizeInBytes) demoted
          // those joins to shuffles and measured SLOWER (3.2 -> 3.6 s)
          // than the repeated cheap scans.
          memb, turnStore(spark, dir),
          "conv_id", "turn_id", "parent_id", "role", "content", "score", "assistant")
        .collect()
        .toIndexedSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getString(6), r.getLong(7), r.getLong(8), r.getLong(9)))
    }
    import spark.implicits._
    rows.toDF("conv_id", "parent_id", "prompt", "chosen_id", "rejected_id",
      "chosen", "rejected", "chosen_score", "rejected_score", "margin")
  }

  /** STATE-SERVED tree render
    * ([[graft.operators.ConvTree.renderPathsFrom]] over a 3-fold
    * [[graft.operators.TreeState]]): the SFT serving twin of q185 —
    * per-(path, turn) render rows with the effective role, read from
    * the persisted membership state instead of re-walking the store.
    * The oracle IS q174's recursive walk over the full store.
    */
  def q186StateServedRender(spark: SparkSession, dir: String): DataFrame = {
    val rows = withFoldedState(spark, dir) { memb =>
      graft.operators.ConvTree
        .renderPathsFrom(
          memb, turnStore(spark, dir),
          "conv_id", "turn_id", "role", "content", "assistant")
        .collect()
        .toIndexedSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5), r.getBoolean(6), r.getString(7)))
    }
    import spark.implicits._
    rows.toDF("conv_id", "path_id", "pos", "turn_id", "role", "content", "train", "eff_role")
  }

  /** KTO binary-feedback unroll
    * ([[graft.operators.Preference.unrollPairs]]): the q147 pairs
    * flattened to pointwise (prompt, response, score, ±1 label)
    * rows — the format a KTO-style pointwise loss trains on. Two
    * projections + a union, no shuffle; 2 × pairs rows.
    */
  def q156KtoLabels(spark: SparkSession, dir: String): DataFrame =
    Preference.unrollPairs(q147PreferencePairs(spark, dir), "prompt_id")

  /** Group-relative advantage
    * ([[graft.operators.Preference.groupAdvantage]]): every
    * response's reward centered against its prompt's mean in exact
    * integer micro-units — the critic-free RL baseline (GRPO). One
    * prompt-keyed agg + the co-partitioned join back; DuckDB replays
    * the floor-division arithmetic.
    */
  def q157GroupAdvantage(spark: SparkSession, dir: String): DataFrame =
    Preference.groupAdvantage(responses(spark, dir), "prompt_id", "doc_id", "reward")

  /** Pair-level decontamination ([[graft.operators.Preference.purgePairs]]):
    * the q147 pairs with every pair touching an eval-contaminated
    * response (ids ≡ 0 mod 17 here; the decontam family's verdict
    * table in production) dropped on EITHER side — chosen or
    * rejected, both poison the pair. Two broadcast left-anti gates;
    * the pair table streams.
    */
  def q152PairDecontam(spark: SparkSession, dir: String): DataFrame =
    Preference.purgePairs(
      q147PreferencePairs(spark, dir),
      Seq("chosen_id", "rejected_id"),
      docs(spark, dir).filter(col("doc_id") % 17 === 0).select(col("doc_id")),
      "doc_id"
    )
}
