package graft.operators

import graft.sources.Parquet

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.hadoop.fs.{Path => HPath}

/** Sequence packing (GPT-style concat-then-chunk) as a first-class
  * operator: documents are laid out in the deterministic shuffle order
  * (hash shard, then (hash, id) within shard), their whitespace-token
  * streams concatenated, and the stream chunked into fixed
  * `budget`-token training sequences. [[layout]]/[[manifest]] are the
  * batch form (q110/q111 delegate here); [[packIngest]] is the
  * INCREMENTAL form — the ingest-family member that lets a crawl loop
  * emit pack manifests batch by batch against a persistent offset
  * state, so the pack space grows append-only and already-emitted
  * packs never move.
  *
  * Scale shape (both forms): the global prefix sum is two passes — a
  * within-shard integer running sum (bounded window partitions) plus
  * per-shard totals prefix-summed on the driver (O(shards) longs) and
  * broadcast-joined back. Never a corpus-wide `Window.orderBy`.
  */
object Packing {

  private def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Per-doc GLOBAL token offsets over `df` in the shuffle order.
    * Returns (<idCol>, shard, start_tok, n_toks, end_tok); offsets
    * start at `base` (0 for the batch form; the state's running total
    * for the incremental form).
    */
  def layout(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Int,
      base: Long = 0L
  ): DataFrame =
    layoutOf(df, idCol, tokens(textCol), None, nShards, Map(None -> base))

  /** [[layout]] with an EXPLICIT per-doc token count instead of the
    * whitespace count of a text column — the bridge from
    * packing-by-whitespace to packing-by-trained-tokenizer: feed it
    * `Bpe.segmentCounts`' `n_bpe_tokens` (or any loader-side length)
    * and the pack budget is measured in the tokens the model will
    * actually see. Same shuffle order, same two-pass prefix, same
    * unique-id interlock; the weight expression is the only change.
    */
  def layoutWeighted(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      nShards: Int,
      base: Long = 0L
  ): DataFrame =
    layoutOf(df, idCol, col(weightCol).cast("long"), None, nShards, Map(None -> base))

  /** Group-stratified layout: each `groupCol` value (a source/domain)
    * is its OWN token stream starting at offset 0 — the shape mixture
    * control needs (domain-pure packs let a training schedule draw
    * pack COUNTS per domain instead of re-shuffling documents). Same
    * two-pass prefix per group: within-(group, shard) running sums,
    * then per-(group, shard) totals prefixed on the driver — the
    * bounded collect is groups × shards rows (dozens of domains ×
    * thousands of shards ⇒ MBs of longs at worst) — broadcast back.
    * Returns (<idCol>, <groupCol>, shard, start_tok, n_toks, end_tok)
    * with offsets per group.
    */
  def layoutBy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      nShards: Int,
      maxGroups: Int = 10000,
      bases: Map[Option[String], Long] = Map.empty,
      weightCol: Option[String] = None
  ): DataFrame =
    layoutOf(df, idCol, tokens(textCol, weightCol), Some(groupCol), nShards, bases, maxGroups)

  /** Per-doc token count: the weight column when given, else the
    * whitespace token count of the text.
    */
  private def tokens(textCol: String, weightCol: Option[String] = None): Column =
    weightCol.fold(size(split(col(textCol), "\\s+")).cast("long"))(w => col(w).cast("long"))

  /** The one layout body. A global stream is the stratified stream
    * with every row in one group: `groupCol = None` partitions by shard
    * alone and keys its base as `None` in `bases` (the key a NULL group
    * value also takes — its string form is absent).
    */
  private def layoutOf(
      df: DataFrame,
      idCol: String,
      nToks: Column,
      groupCol: Option[String],
      nShards: Int,
      bases: Map[Option[String], Long],
      maxGroups: Int = 10000
  ): DataFrame = {
    val keys = groupCol.toSeq :+ "shard"
    val withShard = df
      .select(
        (col(idCol) +: groupCol.toSeq.map(col)) ++ Seq(
          nToks.as("n_toks"),
          h28(concat(lit("gs_"), col(idCol).cast("string"))).as("h")
        ): _*
      )
      .withColumn("shard", (col("h") % nShards).cast("int"))
    // ROWS frame, not the default RANGE: RANGE gives window PEERS
    // (equal (h, id)) one shared cum, so a duplicated id would produce
    // overlapping start/end offsets — a silently corrupt manifest. With
    // ROWS every row gets its own running total, and the duplicate-id
    // precondition is enforced loudly below instead. NULL group keys
    // are a real partition (DuckDB/SQL PARTITION BY keeps one), carried
    // through the totals agg (groupBy keeps nulls) and re-matched with
    // a null-safe join below.
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Pinned (Vocab.withIds' rule): the totals collect below and the
    // caller's final action otherwise EACH execute the upstream —
    // token counting / BPE metering / render chains for the weighted
    // callers — plus the shard exchange and the running-sum window,
    // twice per layout. The pin is slim metadata only (id, group,
    // n_toks, h, shard, cum — the text never enters a layout), so one
    // block-manager write buys the second full pass back at any scale.
    val withCum = withShard.withColumn("cum", sum(col("n_toks")).over(w)).localCheckpoint()
    // Pass 2: per-(group, shard) totals → driver prefix → broadcast
    // offsets. The same agg carries the unique-id audit (rows vs
    // distinct ids per key) so the interlock costs no extra job.
    val totals = withCum
      .groupBy(keys.map(col): _*)
      .agg(
        max(col("cum")).as("tot"),
        count(lit(1)).as("n"),
        countDistinct(col(idCol)).as("nd")
      )
    val totRows = groupCol match {
      // One row per shard (a few KB of longs at thousands of shards).
      case None => totals.collect()
      case Some(g) =>
        // Cardinality interlock: the driver prefix collects groups ×
        // shards rows. That is MBs of longs for domain-grained group
        // columns (dozens..thousands of sources), but a caller who
        // passes a DOC-grained column (url, doc_id) would collect one
        // row per doc × shard — an unbounded driver OOM. `take(limit+1)`
        // bounds what ever reaches the driver, so the misuse fails
        // loudly instead.
        val totLimit = maxGroups.toLong * nShards
        require(totLimit <= Int.MaxValue, s"maxGroups × nShards overflows Int: $totLimit")
        val rows = totals.take(totLimit.toInt + 1)
        require(
          rows.length <= totLimit,
          s"layoutBy collected > $maxGroups distinct '$g' groups: the driver prefix is " +
            s"O(groups × shards) and meant for domain-grained group columns (source, language, " +
            s"dataset), not doc-grained ones (url, doc_id). Raise maxGroups only if the " +
            s"cardinality is genuinely bounded."
        )
        rows
    }
    val nk = keys.length
    // The first key is the group, or the shard for a global stream.
    val dupKeys = totRows.filter(r => r.getLong(nk + 1) != r.getLong(nk + 2)).map(_.get(0))
    require(
      dupKeys.isEmpty,
      s"duplicate $idCol values in batch (${if (groupCol.isEmpty) "shards" else "groups"} " +
        s"${dupKeys.mkString(",")}): a packing layout requires unique document ids — re-key the " +
        "batch (e.g. by (url, crawl_ts))"
    )
    // Per-group base: 0 for the batch form; the group's running total
    // for the incremental form (packIngest). Keys are the group's string
    // form (None = the global stream or the null group).
    val offsets = totRows.toIndexedSeq
      .groupBy(_.toSeq.take(nk - 1))
      .toIndexedSeq
      .flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_.getInt(nk - 1))
        val base = bases.getOrElse(g.headOption.flatMap(Option(_)).map(_.toString), 0L)
        sorted.zip(sorted.scanLeft(base)(_ + _.getLong(nk))).map { case (r, off) =>
          Row.fromSeq(g :+ r.getInt(nk - 1) :+ off)
        }
      }
    val offDf = broadcast(
      df.sparkSession.createDataFrame(
        offsets.asJava,
        StructType(keys.map(withCum.schema(_)) :+ StructField("shard_off", LongType))
      )
    )
    // Null-safe equality (<=>) on the group key: a plain equi-join
    // never matches NULL = NULL, so null-keyed docs would silently
    // vanish from the layout while a SQL PARTITION BY keeps them.
    val on = keys
      .map(k => if (groupCol.contains(k)) withCum(k) <=> offDf(k) else withCum(k) === offDf(k))
      .reduce(_ && _)
    withCum
      .join(offDf, on)
      .select(
        (idCol +: keys).map(withCum(_)) ++ Seq(
          (offDf("shard_off") + withCum("cum") - withCum("n_toks")).as("start_tok"),
          withCum("n_toks"),
          (offDf("shard_off") + withCum("cum")).as("end_tok")
        ): _*
      )
  }

  /** Token-budget mixture selection — the "data recipe executor":
    * given per-domain token budgets (a tiny (groupCol, budget) table —
    * the mixture weights of a training recipe, broadcast), select each
    * domain's deterministic PREFIX of its token stream up to its
    * budget. Rides [[layoutBy]]'s per-domain offsets, so selection is
    * one broadcast join + filter over the layout: a doc is selected
    * iff it starts before the budget, and `tok_take` is how many of
    * its tokens fit (`min(n_toks, budget − start_tok)` — the
    * straddling doc is truncated by the loader, the q111/q114 window
    * convention). Exactness: because offsets are a prefix sum in the
    * weight-independent (h, id) order, the selected set is exactly the
    * greedy prefix — per domain, Σ tok_take = min(budget, domain
    * total) — and reweighting the recipe only moves the cut point,
    * never re-orders documents. Unlike q77's rate sampling (keep each
    * doc with probability ∝ target share), this meters EXACT token
    * counts per domain — what a curriculum with hard per-domain
    * quotas needs.
    */
  def selectTokenBudget(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      budgets: DataFrame,
      nShards: Int,
      maxGroups: Int = 10000
  ): DataFrame = {
    val lay = layoutBy(df, idCol, textCol, groupCol, nShards, maxGroups)
    lay
      .join(broadcast(budgets), Seq(groupCol))
      .filter(col("start_tok") < col("budget"))
      .select(
        col(idCol),
        col(groupCol),
        col("start_tok"),
        col("n_toks"),
        least(col("n_toks"), col("budget") - col("start_tok")).as("tok_take")
      )
  }

  /** Length-grouped ATOMIC batching — the PAIRED-example loader shape
    * (DPO triples, contrastive pairs, reranker examples): unlike the
    * pretraining concat-then-chunk manifest (a doc may straddle a
    * pack), a preference example is atomic — the loader PADS each
    * batch to its longest member instead of splitting. Padding waste
    * is minimized by sorting: rows are laid out in ascending `lenCol`
    * order (ties broken by `keyCols`, so the layout is a pure function
    * of the data) and cut into fixed `batchSize` batches — neighbors
    * in sorted order have near-equal lengths, so `max·n − Σ` per batch
    * is small. Returns the ASSIGNMENT manifest `(keyCols…, lenCol,
    * batch_id, pos_in_batch)`; per-batch stats (max/sum/waste) are one
    * groupBy away.
    *
    * Scale shape: only `keyCols` + `lenCol` enter the rank — the
    * caller's text/payload columns never shuffle (join the manifest
    * back by key to materialize a batch). The global sorted rank is
    * [[Vocab.withIds]]' TWO-PASS prefix (range shuffle + per-partition
    * window + O(nParts) driver offsets), never a corpus-wide
    * `Window.orderBy`. `keyCols` must uniquely key the rows — refused
    * loudly otherwise, because duplicate sort keys would make the
    * assignment nondeterministic across runs (the ConvTree dup-key
    * discipline).
    */
  def lengthGroupedBatches(
      rows: DataFrame,
      keyCols: Seq[String],
      lenCol: String,
      batchSize: Int,
      nParts: Int = 32
  ): DataFrame = {
    require(batchSize > 0, s"lengthGroupedBatches: batchSize must be positive, got $batchSize")
    require(keyCols.nonEmpty, "lengthGroupedBatches: at least one key column required")
    // pin the (key, length) metadata ONCE: the dup gate and both rank
    // passes read the pinned copy — the caller's upstream (renders,
    // token metering) executes exactly once, and the payload columns
    // never enter any of it
    val slim = rows.select((keyCols :+ lenCol).map(col): _*).localCheckpoint()
    val dup = slim
      .agg(count(lit(1)).as("n"), countDistinct(struct(keyCols.map(col): _*)).as("d"))
      .head()
    require(
      dup.getLong(0) == dup.getLong(1),
      s"lengthGroupedBatches: keyCols ${keyCols.mkString("(", ", ", ")")} do not uniquely " +
        s"key the rows (${dup.getLong(0)} rows, ${dup.getLong(1)} distinct keys) — duplicate " +
        "sort keys would make the batch assignment nondeterministic"
    )
    Vocab
      .withIds(
        slim.withColumn("__ord", struct((lenCol +: keyCols).map(col): _*)),
        "__ord",
        nParts
      )
      .select(
        keyCols.map(col) :+ col(lenCol) :+
          expr(s"__ord_id div $batchSize").as("batch_id") :+
          (col("__ord_id") % batchSize).as("pos_in_batch"): _*
      )
  }

  /** Padding-efficiency audit of a [[lengthGroupedBatches]] layout —
    * the atomic-batch analogue of the q138 pack-efficiency audit: per
    * batch, the member count, the longest member (what the loader
    * pads to), the token sum, the padding waste `max·n − Σ`, and the
    * waste in integer per-mille of the padded volume. One batch-keyed
    * map-side agg over the assignment manifest; integer arithmetic
    * throughout (the DuckDB-replay discipline).
    */
  def batchPadStats(assignment: DataFrame, lenCol: String): DataFrame =
    assignment
      .groupBy(col("batch_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        max(col(lenCol)).as("max_toks"),
        sum(col(lenCol)).as("sum_toks")
      )
      .withColumn("pad_waste", col("max_toks") * col("n_pairs") - col("sum_toks"))
      // integer floor division (Spark `/` is always DOUBLE; `div` is
      // the exact integer form DuckDB's `//` replays for non-negative
      // operands — waste and volume are non-negative by construction)
      .withColumn(
        "pad_millis",
        expr(
          "CASE WHEN max_toks * n_pairs = 0 THEN 0L " +
            "ELSE (1000 * pad_waste) div (max_toks * n_pairs) END"))

  /** The packing manifest over a layout: pack range per doc, keeping
    * the layout's `groupCols` (a stratified layout's domain column —
    * its pack ids are domain-pure by construction).
    */
  def manifest(lay: DataFrame, idCol: String, budget: Long, groupCols: Seq[String] = Nil): DataFrame =
    lay
      .select(
        (col(idCol) +: groupCols.map(col)) ++ Seq(
          col("shard"),
          col("start_tok"),
          col("n_toks"),
          expr(s"start_tok div $budget").as("first_pack"),
          expr(s"(end_tok - 1) div $budget").as("last_pack")
        ): _*
      )
      .withColumn("n_packs", col("last_pack") - col("first_pack") + 1)

  /** Per-pack segment table — the attention-mask / loss-mask metadata
    * a trainer needs next to each pack: for every (pack, doc) overlap,
    * where the doc's segment starts inside the pack (`pos`), how many
    * of its tokens land there (`seg_len`), and whether the doc BEGINS
    * in this pack (`doc_start` — the positions where cross-document
    * attention must reset; a doc continuing from the previous pack has
    * `pos = 0, doc_start = 0`). Pure manifest arithmetic: no text is
    * touched, the explode factor per doc is its pack count, so the
    * table is O(total_tokens / budget + n_docs) rows no matter the
    * corpus size — the cheap side-file loaders ship alongside packs.
    */
  def boundaries(man: DataFrame, idCol: String, budget: Long): DataFrame =
    man
      .select(
        col(idCol),
        col("start_tok"),
        col("n_toks"),
        explode(sequence(col("first_pack"), col("last_pack"))).as("pack_id")
      )
      .withColumn("pstart", col("pack_id") * budget)
      .select(
        col("pack_id"),
        (greatest(col("start_tok"), col("pstart")) - col("pstart")).as("pos"),
        (least(col("start_tok") + col("n_toks"), col("pstart") + budget) -
          greatest(col("start_tok"), col("pstart"))).as("seg_len"),
        col(idCol),
        (col("start_tok") >= col("pstart")).cast("int").as("doc_start")
      )

  /** Pack PROVENANCE — per-pack attribution of document attributes
    * (source, license, language, …): for every (pack, attr values)
    * combination, how many documents with those attributes contribute
    * tokens to the pack and how many of the pack's positions they
    * occupy. The governance side-file a data release ships next to
    * its packs: "which sources (under which licenses) are in pack X,
    * and at what token weight" is answerable without touching pack
    * data — and a takedown request resolves to packs by one scan of
    * this table instead of a corpus scan.
    *
    * Scale shape: the manifest (O(docs) rows, no text) joins the
    * attribute table on the document id — both sides keyed on the
    * same column, co-partitionable, never text-sized — then the
    * per-doc pack-range explode (factor = packs spanned, ~n_toks /
    * budget + 1) and one keyed agg with map-side partials. Output is
    * O(n_packs × attrs-per-pack) — for domain-coherent shuffle orders
    * most packs carry a handful of attribute rows. Token accounting
    * is exact and total: summing `n_toks` over a pack's rows gives
    * exactly the pack's fill (budget for interior packs, the tail
    * remainder for the last), so the table doubles as a fill audit.
    */
  def provenance(
      man: DataFrame,
      attrs: DataFrame,
      idCol: String,
      budget: Long,
      attrCols: Seq[String]
  ): DataFrame = {
    require(attrCols.nonEmpty, "provenance needs at least one attribute column")
    man
      .join(attrs.select((idCol +: attrCols).map(col): _*), Seq(idCol))
      .withColumn("pack_id", explode(sequence(col("first_pack"), col("last_pack"))))
      .withColumn(
        "tok_in_pack",
        least(col("start_tok") + col("n_toks"), (col("pack_id") + 1) * budget) -
          greatest(col("start_tok"), col("pack_id") * budget)
      )
      .groupBy(col("pack_id") +: attrCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok_in_pack")).as("n_toks")
      )
  }

  /** Pack contamination audit (q131's library form): map contaminated
    * DOCUMENT ids onto the EMITTED pack space — per pack, how many
    * contaminated docs overlap it and how many of its positions they
    * occupy. Pure manifest arithmetic: the contaminated-ids join
    * (broadcast — the decontamination report is eval-set-sized) prunes
    * BEFORE the only explode (the doc's `sequence(first_pack,
    * last_pack)`), so the row volume is O(contam docs ×
    * packs-per-doc) at any corpus size; no text is read. Output:
    * (pack_id, n_contam_docs, n_contam_tokens) — only CONTAMINATED
    * packs appear (absence = clean).
    *
    * STRATIFIED manifests ([[packIngest]] with a `groupCol`) number packs PER DOMAIN:
    * pack 5 of one source and pack 5 of another are different packs,
    * so auditing them by `pack_id` alone conflates domains (and a
    * pack_id-keyed mask would retire every domain's pack 5). Pass the
    * manifest's group column(s) as `groupCols` — the audit (and the
    * [[retirePacks]] mask built from it) is then keyed by
    * (group…, pack_id). The `retire_packs` verb interlocks this:
    * a manifest carrying columns beyond the global-stream shape is
    * refused unless `--group_col` names them.
    */
  def contamAudit(
      man: DataFrame,
      contamIds: DataFrame,
      idCol: String,
      budget: Long,
      groupCols: Seq[String] = Nil
  ): DataFrame =
    man
      .join(broadcast(contamIds.select(col(idCol))), Seq(idCol))
      .withColumn("pack_id", explode(sequence(col("first_pack"), col("last_pack"))))
      .withColumn(
        "tok_in_pack",
        least(col("start_tok") + col("n_toks"), (col("pack_id") + 1) * budget) -
          greatest(col("start_tok"), col("pack_id") * budget)
      )
      .groupBy(groupCols.map(col) :+ col("pack_id"): _*)
      .agg(
        count(lit(1)).as("n_contam_docs"),
        sum(col("tok_in_pack")).as("n_contam_tokens")
      )

  /** Position-level LOSS-MASK intervals — the surgical alternative to
    * [[retirePacks]]: instead of withholding a whole pack because one
    * document in it overlaps the benchmark, emit the contaminated
    * token intervals themselves so the trainer keeps the pack and
    * zeroes LOSS on exactly the leaked positions. One row per
    * (contaminated doc × pack it overlaps):
    * `(groupCols…, pack_id, idCol, mask_start, mask_end,
    * n_mask_tokens)` with `[mask_start, mask_end)` half-open in
    * PACK-LOCAL token coordinates (`[0, budget)`) — the frame a
    * memory-mapped pack row is addressed in. Intervals within a pack
    * are disjoint by construction (the layout assigns documents
    * disjoint global token ranges), so the trainer applies them
    * without a merge pass; `idCol` rides along as the attribution.
    *
    * Same scale shape as [[contamAudit]] (it is the audit WITHOUT the
    * final per-pack roll-up): contaminated ids broadcast-join the
    * manifest before the pack-range explode, no text read, output is
    * O(contaminated docs × packs each spans) rows. The mask is a
    * contamination-sized SIDE-FILE, like retirement — never a re-pack
    * (pack ids are immutable under a live trainer) and never a
    * rewrite of corpus-sized pack data for a benchmark-sized fix.
    * Retirement and masking compose: retire packs past a tolerated
    * fraction, mask the rest.
    */
  def maskIntervals(
      man: DataFrame,
      contamIds: DataFrame,
      idCol: String,
      budget: Long,
      groupCols: Seq[String] = Nil
  ): DataFrame =
    man
      .join(broadcast(contamIds.select(col(idCol))), Seq(idCol))
      .withColumn("pack_id", explode(sequence(col("first_pack"), col("last_pack"))))
      .select(
        groupCols.map(col) ++ Seq(
          col("pack_id"),
          col(idCol),
          (greatest(col("start_tok"), col("pack_id") * budget) - col("pack_id") * budget)
            .as("mask_start"),
          (least(col("start_tok") + col("n_toks"), (col("pack_id") + 1) * budget) -
            col("pack_id") * budget).as("mask_end")
        ): _*
      )
      .withColumn("n_mask_tokens", col("mask_end") - col("mask_start"))

  /** Project DOC-LOCAL token intervals into PACK-LOCAL coordinates
    * through the layout — the bridge from interval side-files computed
    * in a document's own token space (SFT role masks from
    * `Preference.roleMaskIntervals`, span-extent cut lists, PII
    * redaction spans) to the `[0, budget)` frame a memory-mapped pack
    * row is addressed in. Each input interval `[startCol, endCol)` on
    * doc `idCol` becomes one output row per pack it overlaps:
    * `(pack_id, idCol, carryCols…, mask_start, mask_end,
    * n_mask_tokens)`, split at pack boundaries, half-open, and — when
    * the input intervals are disjoint per doc, as every producer in
    * this repo guarantees — disjoint per pack (the layout gives docs
    * disjoint global ranges).
    *
    * An interval escaping its document's token range
    * (`endCol > n_toks` or `startCol < 0`) fails PER ROW with a named
    * error instead of silently bleeding the mask into the NEIGHBORING
    * document's tokens; empty intervals are dropped.
    *
    * Scale shape: one id-keyed equi join (manifest side O(docs),
    * interval side O(intervals) — co-partitionable, no broadcast
    * assumption since SFT masks are corpus-sized), then the same
    * bounded pack-range explode as [[maskIntervals]]: output rows =
    * intervals × packs-each-spans (≤ len/budget + 1), never a text
    * read, never a re-pack.
    */
  def projectIntervals(
      man: DataFrame,
      intervals: DataFrame,
      idCol: String,
      budget: Long,
      startCol: String = "tok_start",
      endCol: String = "tok_end",
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val checkedEnd = when(
      col(startCol) >= 0 && col(endCol) <= col("n_toks"),
      col("start_tok") + col(endCol)
    ).otherwise(
      raise_error(
        concat(
          lit(s"projectIntervals: interval [$startCol, $endCol) escapes its document's "),
          lit("token range on "),
          lit(s"$idCol="),
          col(idCol).cast("string")
        )
      )
    )
    intervals
      .filter(col(endCol) > col(startCol))
      .join(man.select(col(idCol), col("start_tok"), col("n_toks")), Seq(idCol))
      .withColumn("__gs", col("start_tok") + col(startCol))
      .withColumn("__ge", checkedEnd)
      .withColumn(
        "pack_id",
        explode(sequence(expr(s"__gs div $budget"), expr(s"(__ge - 1) div $budget")))
      )
      .select(
        Seq(col("pack_id"), col(idCol)) ++ carryCols.map(col) ++ Seq(
          (greatest(col("__gs"), col("pack_id") * budget) - col("pack_id") * budget)
            .as("mask_start"),
          (least(col("__ge"), (col("pack_id") + 1) * budget) - col("pack_id") * budget)
            .as("mask_end")
        ): _*
      )
      .withColumn("n_mask_tokens", col("mask_end") - col("mask_start"))
  }

  /** The retirement DECISION the audit feeds — the step that APPLIES
    * decontamination to an already-emitted pack space: a pack whose
    * contaminated-position fraction exceeds `maxContamFrac` is
    * `retired` (default 0.0: one contaminated token retires the
    * pack — the conservative benchmark-hygiene posture; raise it to
    * tolerate incidental overlap). The output is the pack MASK
    * side-file `materializePacks`/`pack_export` honor: pack ids are
    * immutable by the ingest contract, so contamination handling must
    * be an exclusion layer, never a re-pack (re-packing would renumber
    * history under a live trainer). O(contaminated packs) rows.
    */
  def retirePacks(
      audit: DataFrame,
      budget: Long,
      maxContamFrac: Double = 0.0,
      groupCols: Seq[String] = Nil
  ): DataFrame = {
    require(maxContamFrac >= 0.0 && maxContamFrac < 1.0, s"maxContamFrac in [0,1), got $maxContamFrac")
    audit
      .select(
        groupCols.map(col) ++ Seq(
          col("pack_id"),
          col("n_contam_docs"),
          col("n_contam_tokens"),
          (col("n_contam_tokens").cast("double") / budget).as("contam_frac")
        ): _*
      )
      .withColumn("retired", col("contam_frac") > maxContamFrac)
  }

  /** Deterministic EPOCH SHUFFLE over the pack space: for each epoch,
    * a pseudo-random permutation of pack ids keyed by
    * `md5(seed:epoch:pack_id)` — the training-order schedule a
    * multi-epoch run reads instead of re-shuffling documents (packs
    * are immutable; only their visit order changes per epoch, and any
    * worker can recompute the same order from the seed alone).
    *
    * Scale shape: the global rank is the layout's two-pass prefix
    * applied to the hash order — the key's first `hexWidth` hex chars
    * bucket it into 16^hexWidth uniform partitions (hex-lexicographic
    * order IS numeric order, so bucket-major + within-bucket key order
    * equals the global key order), `row_number` runs per (epoch,
    * bucket), and the epochs × 16^hexWidth bucket counts are
    * prefix-summed on the driver and broadcast back. Never a global
    * `Window.orderBy` over the pack table (O(total_tokens / budget)
    * rows on one task at corpus scale). The OUTPUT is hexWidth-
    * invariant (prefix-bucketing at any width preserves the same
    * global (key, pack_id) order — spec-proved at widths 1/2/3);
    * only the rows-per-window-task bound moves: nPacks / 16^hexWidth,
    * so the default 2 (256 buckets) handles ~10⁸ packs at ~400k rows
    * per task, and a 100 TB corpus (~10¹⁰ packs at budget 2048)
    * should run width 3-4 (4k-64k buckets → ≤2.4M rows/task). The
    * driver collect stays epochs × 16^hexWidth longs — size it like a
    * shard count. Returns (epoch, ord, pack_id): `ord` is the pack's
    * position in epoch's visit order.
    */
  def epochOrder(
      man: DataFrame,
      epochs: Int,
      seed: String,
      hexWidth: Int = 2,
      mask: Option[DataFrame] = None
  ): DataFrame = {
    require(
      hexWidth >= 1 && hexWidth <= 7,
      s"hexWidth must be in [1, 7] (16^w buckets must stay a bounded driver collect), got $hexWidth"
    )
    val spark = man.sparkSession
    val last = man.agg(max(col("last_pack"))).head()
    val nPacks = if (last.isNullAt(0)) 0L else last.getLong(0) + 1L
    // Optional retirement mask ([[retirePacks]]): retired packs are
    // excluded BEFORE ranking, so each epoch's ords are dense over the
    // SURVIVING set — a trainer walking ord 0..k-1 never visits a
    // retired pack and never sees a hole. Survivor relative order is
    // unchanged (the md5 key doesn't depend on the mask); broadcast
    // anti-join, mask is contamination-sized.
    val packIds = mask match {
      case Some(mk) =>
        spark
          .range(nPacks)
          .toDF("pack_id")
          .join(broadcast(mk.filter(col("retired")).select(col("pack_id"))), Seq("pack_id"), "left_anti")
      case None => spark.range(nPacks).toDF("pack_id")
    }
    val keyed = packIds
      .crossJoin(broadcast(spark.range(epochs.toLong).toDF("epoch")))
      .withColumn(
        "key",
        md5(
          concat(
            lit(seed),
            lit(":"),
            col("epoch").cast("string"),
            lit(":"),
            col("pack_id").cast("string")
          )
        )
      )
      .withColumn("bucket", conv(substring(col("key"), 1, hexWidth), 16, 10).cast("long"))
    val w = Window
      .partitionBy(col("epoch"), col("bucket"))
      .orderBy(col("key"), col("pack_id"))
    val ranked = keyed.withColumn("r", row_number().over(w))
    // Bounded collect: epochs × 16^hexWidth bucket counts.
    val counts = ranked
      .groupBy(col("epoch"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    import spark.implicits._
    val offsets = counts.keys.toIndexedSeq
      .map(_._1)
      .distinct
      .flatMap { e =>
        val bs = counts.keys.filter(_._1 == e).map(_._2).toIndexedSeq.sorted
        bs.scanLeft((0L, 0L, 0L)) { case ((_, acc, _), b) => (b, acc + counts((e, b)), acc) }
          .drop(1)
          .map { case (b, _, off) => (e, b, off) }
      }
    val offDf = broadcast(offsets.toDF("epoch", "bucket", "bucket_off"))
    ranked
      .join(offDf, Seq("epoch", "bucket"))
      .select(
        col("epoch"),
        (col("bucket_off") + col("r") - 1L).as("ord"),
        col("pack_id")
      )
  }

  /** Pin the packing budget to a state/manifest dir as a `_budget`
    * sidecar: first writer records it, every later writer (and any
    * consumer passing an explicit budget) must agree — a mismatched
    * budget silently produces garbage offsets/boundaries otherwise
    * (negative seg_len, misaligned pack windows), so it fails loudly
    * instead. Idempotent re-record of the same value is a no-op.
    */
  def recordBudget(spark: SparkSession, dir: String, budget: Long): Unit = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    storedBudget(spark, dir) match {
      case Some(b) =>
        require(
          b == budget,
          s"budget $budget disagrees with the budget this state was built with ($b, recorded in $dir/_budget): " +
            "offsets are cumulative in budget units — pass the recorded budget or rebuild the state"
        )
      case None =>
        fs.mkdirs(root)
        Maintenance.writeTextFile(fs, new HPath(root, "_budget"), budget.toString)
    }
  }

  /** The budget a state/manifest dir was built with, if recorded. */
  def storedBudget(spark: SparkSession, dir: String): Option[Long] = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Maintenance.readTextFile(fs, new HPath(root, "_budget")).map(_.trim.toLong)
  }

  /** Incremental packing: lay out ONE batch after everything already
    * packed, against a persistent offset state. Batch K's tokens start
    * at the state's running total (batch-major stream order: the
    * within-batch order is the shuffle order, batches append in
    * arrival order), so already-emitted pack ids are immutable — a
    * loader can consume pack k the moment `k < total_after/budget`.
    *
    * With `groupCol` the same protocol runs per domain (MIXTURE-
    * STRATIFIED packing): every group value keeps its own append-only
    * token stream (domain-pure pack spaces, as [[layoutBy]]/q113), an
    * unseen domain starts at 0 whenever it first appears, and the
    * manifest keeps the group column. `groupCol` must be string-typed:
    * state keys are compared by string form across sessions, and
    * domains (source, language, dataset) are strings — a loud require
    * beats a silent representation drift. `maxGroups` bounds the
    * batch's domain set as [[layoutBy]]'s interlock does.
    *
    * State = `stateDir/bases/applied_id=<id>/` parquet rows
    * (base, total_after) — one row per applied batch, an empty batch
    * recording (base, base) — or, stratified,
    * `stateDir/bases_by/applied_id=<id>/` rows (grp, base, total_after),
    * one per domain the batch touched; either way ONE atomic dir per
    * batch, bytes-tiny. Replay convergence: an appliedId that already
    * has rows REUSES them (recompute-identical manifest; a replayed
    * batch with a domain its recording lacks, or whose recomputed
    * stream end differs from a recorded `total_after`, fails loudly
    * before any write — that is changed batch content, not a crash);
    * one that doesn't derives each
    * base as max(total_after) over its stream's prior rows and then
    * records itself. Both crash windows converge: manifest-written/
    * base-lost replays derive the same base (the batch's own rows are
    * absent either way); base-written/manifest-lost replays read the
    * recorded base. Single-applier discipline as the rest of the
    * ingest family (one crawl loop owns a state).
    *
    * The state SELF-COMPACTS: past `compactEvery` per-batch dirs, all
    * known rows (previous consolidation + every per-batch dir) are
    * rewritten as one versioned `compact_v<n>` dir BEFORE the
    * per-batch dirs and older versions are deleted. A base, once
    * recorded, never changes, so every crash point leaves a superset
    * of AGREEING rows — and the state read stays O(1) files however
    * long the crawl runs. (Measured: without this, per-batch wall
    * drifts up with crawl age from the base-file open fan-out alone —
    * CurateStress pack mode.) Both layouts are read via EXPLICIT path
    * lists (never a root glob), so they coexist without name games.
    *
    * Returns the batch's manifest (caller sinks it; the ingest CLI
    * writes `out/pack_batch=<id>`).
    */
  def packIngest(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      appliedId: Long,
      budget: Long = 2048L,
      nShards: Int = 8,
      compactEvery: Int = 64,
      weightCol: Option[String] = None,
      groupCol: Option[String] = None,
      maxGroups: Int = 10000
  ): DataFrame = {
    require(appliedId >= 0L, "appliedId must be non-negative")
    groupCol.foreach { g =>
      require(
        batch.schema(g).dataType == StringType,
        s"stratified packIngest groups by the string form of '$g'; cast it to string explicitly"
      )
    }
    recordBudget(spark, stateDir, budget)
    val root = basesRoot(stateDir, groupCol.isDefined)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prior = baseRows(spark, stateDir, groupCol.isDefined)
    val own = prior.filter(_._1 == appliedId)
    // The batch's streams: the one global stream (recorded even when
    // the batch is empty), or its domain set — bounded by the same
    // interlock as layoutBy's driver prefix; this collect is what sizes
    // the state write too.
    val groups: Seq[Option[String]] = groupCol match {
      case None => Seq(None)
      case Some(g) =>
        val rows = batch.select(col(g)).distinct().take(maxGroups + 1)
        require(
          rows.length <= maxGroups,
          s"stratified packIngest batch has > $maxGroups distinct '$g' domains — domain-grained " +
            "group columns only (see layoutBy's interlock)"
        )
        rows.toIndexedSeq.map(r => Option(r.getString(0)))
    }
    val bases: Map[Option[String], Long] =
      if (own.nonEmpty) {
        // replay: the recorded bases, bit-identical rerun
        val recorded = own.map(r => r._2 -> r._3).toMap
        val missing = groups.filterNot(recorded.contains)
        require(
          missing.isEmpty,
          s"replay of appliedId=$appliedId contains domains ${missing.map(_.getOrElse("NULL")).mkString(",")} " +
            "absent from its recorded state — changed batch content, not a crash replay"
        )
        recorded
      } else {
        val latest = prior.groupBy(_._2).map { case (g, rows) => g -> rows.map(_._4).max }
        groups.map(g => g -> latest.getOrElse(g, 0L)).toMap
      }
    // Optional weight column (e.g. frozen-BPE counts from
    // Bpe.segmentCountsFrozen): the stream is metered in those tokens
    // instead of whitespace tokens — layoutWeighted's contract. The
    // metric must stay FIXED for the life of a state (a frozen model
    // version, not a retraining one): offsets are cumulative, so a
    // drifting metric would re-meter history.
    val lay = layoutOf(batch, idCol, tokens(textCol, weightCol), groupCol, nShards, bases, maxGroups)
      .localCheckpoint()
    // Per-stream totals after this batch: max(end_tok) per group —
    // bounded (≤ maxGroups rows); a stream with no docs stays at its
    // base.
    val ends = lay
      .groupBy(groupCol.toSeq.map(col): _*)
      .agg(max(col("end_tok")))
      .collect()
      .collect {
        case r if !r.isNullAt(r.length - 1) => groupCol.flatMap(_ => Option(r.getString(0))) -> r.getLong(r.length - 1)
      }
      .toMap
    // A replay must end every recorded stream where its recording did:
    // reusing the recorded bases for a batch that now carries more (or
    // fewer) tokens would lay them over the next batch's range.
    own.foreach { case (_, g, base, totalAfter) =>
      val end = ends.getOrElse(g, base)
      require(
        end == totalAfter,
        s"replay of appliedId=$appliedId ends stream ${g.getOrElse("NULL")} at $end, recorded $totalAfter " +
          "— changed batch content, not a crash replay"
      )
    }
    // Record (idempotent overwrite of the batch's OWN partition) only
    // after the layout is pinned; any crash before this line replays
    // to the same bases. The global state rows carry no grp column.
    import spark.implicits._
    def writeRows(rows: DataFrame, dir: HPath): Unit =
      (if (groupCol.isEmpty) rows.drop("grp") else rows).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    writeRows(
      groups.map(g => (g, bases(g), ends.getOrElse(g, bases(g)))).toDF("grp", "base", "total_after"),
      new HPath(root, s"applied_id=$appliedId")
    )
    // Self-compaction: new consolidated version FIRST (all rows, own
    // included), then per-batch dirs, then older versions — every
    // crash point keeps the full agreeing row set readable.
    val dirsNow = batchDirs(fs, root)
    if (dirsNow.length > compactEvery) {
      val versions = compactVersions(fs, root)
      val next = versions.lastOption.map(_._1 + 1).getOrElse(1)
      writeRows(
        baseRows(spark, stateDir, groupCol.isDefined).toDF("applied_id", "grp", "base", "total_after"),
        new HPath(root, s"compact_v$next")
      )
      dirsNow.foreach(d => Maintenance.deleteOrFail(fs, new HPath(d)))
      versions.foreach { case (_, p) => Maintenance.deleteOrFail(fs, p) }
    }
    manifest(lay, idCol, budget, groupCol.toSeq)
  }

  /** An offset state's root: `bases/` for the global stream,
    * `bases_by/` for the stratified one.
    */
  private def basesRoot(stateDir: String, grouped: Boolean): HPath =
    new HPath(stateDir, if (grouped) "bases_by" else "bases")

  /** All (applied_id, grp, base, total_after) rows of an offset state,
    * consolidated + per-batch layouts merged (duplicates agree — a
    * recorded base is immutable; one row per (id, grp) kept). The
    * global state's rows have `grp = None`.
    */
  private[graft] def baseRows(
      spark: SparkSession,
      stateDir: String,
      grouped: Boolean = false
  ): Seq[(Long, Option[String], Long, Long)] = {
    val root = basesRoot(stateDir, grouped)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rows(df: DataFrame): Seq[(Long, Option[String], Long, Long)] =
      df.select(
          col("applied_id").cast("long"),
          if (grouped) col("grp") else lit(null).cast("string"),
          col("base"),
          col("total_after")
        )
        .collect()
        .toIndexedSeq
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getLong(3)))
    val dirs = batchDirs(fs, root)
    val fromDirs =
      if (dirs.isEmpty) Seq.empty
      else rows(spark.read.option("basePath", root.toString).parquet(dirs: _*))
    val fromCompact = compactVersions(fs, root).lastOption.toSeq.flatMap { case (_, p) =>
      rows(Parquet.read(spark, p.toString))
    }
    (fromDirs ++ fromCompact).distinctBy(t => (t._1, t._2))
  }

  private def batchDirs(fs: org.apache.hadoop.fs.FileSystem, basesRoot: HPath): Seq[String] =
    if (!fs.exists(basesRoot)) Seq.empty
    else
      fs.listStatus(basesRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("applied_id="))
        .map(_.getPath.toString)
        .toIndexedSeq

  private def compactVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      basesRoot: HPath
  ): Seq[(Int, HPath)] =
    if (!fs.exists(basesRoot)) Seq.empty
    else
      fs.listStatus(basesRoot)
        .map(_.getPath)
        .flatMap { p =>
          val n = p.getName
          if (n.startsWith("compact_v") && n.drop("compact_v".length).forall(_.isDigit))
            Some((n.drop("compact_v".length).toInt, p))
          else None
        }
        .toIndexedSeq
        .sortBy(_._1)

  /** The batch ids whose token ranges overlap `[lo, hi)` — the offset
    * state IS the partition-pruning index over the batch-keyed
    * manifest dirs.
    */
  private[graft] def overlappingBatches(
      spark: SparkSession,
      stateDir: String,
      lo: Long,
      hi: Long
  ): Seq[Long] =
    baseRows(spark, stateDir)
      .filter { case (_, _, b, t) => b < hi && t > lo }
      .map(_._1)
      .sorted

  /** Materialize packs `[packFrom, packToExcl)` from an INCREMENTAL
    * manifest dir (the loader side of [[packIngest]], as
    * `q111_pack_slices` is of the batch form): packs straddle batch
    * boundaries (a batch starts mid-pack wherever the prior total
    * left off), so the loader must read every batch manifest
    * overlapping the window — and ONLY those: the offset state's
    * (base, total_after) rows prune the batch-keyed manifest dirs
    * before any file is opened, then the manifest rows prune the doc
    * set before any text is exploded. Exploded volume is
    * O(requested packs × budget) whatever the corpus or crawl age.
    * `docs` is the document relation the manifests were built over
    * (id + text columns).
    *
    * `mask`: an optional [[retirePacks]] table — positions of packs
    * whose `retired` flag is set never materialize (broadcast
    * anti-join on pack_id over the already-window-bounded slice rows;
    * the mask is O(contaminated packs), always broadcastable). The
    * exclusion happens here, at the loader, so every consumer
    * (pack_slices, pack_export, a training read) honors one decision
    * file instead of each re-deriving it.
    */
  def materializePacks(
      spark: SparkSession,
      stateDir: String,
      manifestDir: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      packFrom: Long,
      packToExcl: Long,
      budget: Long = 2048L,
      mask: Option[DataFrame] = None
  ): DataFrame = {
    require(packFrom >= 0 && packToExcl > packFrom, "need a non-empty pack window")
    val lo = packFrom * budget
    val hi = packToExcl * budget
    val batches = overlappingBatches(spark, stateDir, lo, hi)
    val idType = docs.schema(idCol).dataType
    if (batches.isEmpty) {
      // window past the stream's end: empty result, correct schema
      val schema = org.apache.spark.sql.types.StructType(
        Seq(
          org.apache.spark.sql.types.StructField("pack_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("pos_in_pack", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(idCol, idType),
          org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType)
        )
      )
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val m = spark.read
        .parquet(batches.map(id => s"$manifestDir/pack_batch=$id"): _*)
        .filter(col("start_tok") < hi && col("start_tok") + col("n_toks") > lo)
        .select(col(idCol), col("start_tok"))
      val slices = m
        .join(docs.select(col(idCol), col(textCol)), Seq(idCol))
        .select(
          col(idCol),
          col("start_tok"),
          posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "token"))
        )
        .withColumn("gpos", col("start_tok") + col("pos"))
        .filter(col("gpos") >= lo && col("gpos") < hi)
        .select(
          expr(s"gpos div $budget").as("pack_id"),
          (col("gpos") % budget).as("pos_in_pack"),
          col(idCol),
          col("token")
        )
      mask match {
        case Some(mk) =>
          slices.join(
            broadcast(mk.filter(col("retired")).select(col("pack_id"))),
            Seq("pack_id"),
            "left_anti"
          )
        case None => slices
      }
    }
  }

  /** Loader RESUME arithmetic over an [[epochOrder]] schedule: a
    * trainer that consumed `globalStep` optimizer steps of `batchSize`
    * packs each (epoch-major order — epoch 0's ords first, then epoch
    * 1's, ...) restarts from the REMAINING slice of the schedule,
    * without re-deriving or re-shuffling anything. Output = the
    * not-yet-consumed schedule rows annotated with `global_ord`
    * (position in the flattened multi-epoch walk); the minimum
    * `global_ord` row is the resume point, and `(global_ord -
    * consumed) div batchSize` is each row's step index relative to the
    * restart.
    *
    * Scale shape: one bounded agg (per-epoch max ord — O(epochs) rows
    * collected, with a uniformity `require`: every epoch must rank the
    * same survivor set, which [[epochOrder]] guarantees because the
    * retirement mask is epoch-independent) and then a FILTER + integer
    * projection over the schedule — no shuffle, no window, no text.
    * The schedule itself is O(epochs × nPacks) rows; the slice is a
    * pruned scan of it, so a restart at step k costs the same whether
    * the run crashed at 1% or 99%.
    */
  def resumeSlice(schedule: DataFrame, globalStep: Long, batchSize: Long): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(globalStep >= 0, s"globalStep must be non-negative, got $globalStep")
    // Bounded collect: one (epoch, max ord) row per epoch.
    val perEpoch = schedule
      .groupBy(col("epoch"))
      .agg(max(col("ord")).as("mx"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(perEpoch.nonEmpty, "resumeSlice: empty schedule")
    val ppes = perEpoch.map(_._2).distinct
    require(
      ppes.length == 1,
      s"resumeSlice: epochs rank different pack counts (max ords ${ppes.sorted.mkString(",")}) — " +
        "a valid epochOrder schedule ranks the same survivor set in every epoch"
    )
    val ppe = ppes.head + 1L
    val epochs = perEpoch.length.toLong
    val consumed = globalStep * batchSize
    require(
      consumed <= epochs * ppe,
      s"resumeSlice: globalStep × batchSize = $consumed exceeds the schedule's " +
        s"${epochs * ppe} packs (${epochs} epochs × $ppe)"
    )
    schedule
      .withColumn("global_ord", col("epoch") * ppe + col("ord"))
      .filter(col("global_ord") >= consumed)
      .select(col("epoch"), col("ord"), col("pack_id"), col("global_ord"))
  }

  /** TEMPERATURE-scaled mixture weights (the multilingual/multi-domain
    * sampling-rate control, Conneau & Lample 2019 style): given
    * per-item token counts and a group column, compute each group's
    * sampling weight under p_i^α relative to the LARGEST group. With
    * the default α = 0.5 every arithmetic step is IEEE-exact-rounded
    * (`sqrt`, one division, one multiply, `floor`), so the micro-int
    * outputs are bit-stable across engines — the declared-query /
    * oracle discipline. For any other α the `pow` path is used and the
    * result is correct to double precision but NOT guaranteed
    * bit-identical across math libraries (analysis use, not
    * oracle-hash use).
    *
    * Output per group: `n_items`, `tok_total`,
    * `w_micro   = floor(1e6 · (tok/tok_max)^α)` — relative sampling
    * weight, 1e6 for the largest group — and
    * `repeat_micro = floor(1e6 · (tok_max/tok)^α)` — the upsampling
    * (epoch-repeat) factor that equalizes the mixture toward the
    * temperature target, 1e6 for the largest group and growing as a
    * group shrinks (α < 1 upsamples small groups sub-linearly: the
    * standard fix for low-resource domains being crowded out without
    * letting them dominate).
    *
    * Scale shape: ONE hash agg over the input (O(rows) → O(groups)),
    * a bounded 1-row max, and per-group scalar math. The input can be
    * a raw corpus (tokCol = computed length) or a pack/layout manifest
    * (tokCol = n_toks) — at 100 TB feed it the manifest, never re-read
    * text.
    */
  def temperatureWeights(
      df: DataFrame,
      groupCol: String,
      tokCol: Column,
      alpha: Double = 0.5
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")
    val totals = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_items"), sum(tokCol.cast("long")).as("tok_total"))
    val mx = totals.agg(max(col("tok_total"))).head().getLong(0)
    val (wNum, rNum): (Column, Column) =
      if (alpha == 0.5)
        (
          sqrt(col("tok_total").cast("double")) / sqrt(lit(mx.toDouble)),
          sqrt(lit(mx.toDouble)) / sqrt(col("tok_total").cast("double"))
        )
      else
        (
          pow(col("tok_total").cast("double") / lit(mx.toDouble), lit(alpha)),
          pow(lit(mx.toDouble) / col("tok_total").cast("double"), lit(alpha))
        )
    totals.select(
      col(groupCol),
      col("n_items"),
      col("tok_total"),
      floor(lit(1000000.0d) * wNum).cast("long").as("w_micro"),
      floor(lit(1000000.0d) * rNum).cast("long").as("repeat_micro")
    )
  }

  /** EXACT integer apportionment of a token budget across mixture
    * groups (Hamilton / largest-remainder): given per-group weights
    * (e.g. [[temperatureWeights]]' `w_micro`), split `totalBudget`
    * tokens so that Σ quota == totalBudget EXACTLY and each quota is
    * within 1 of its real-valued share `totalBudget·w/Σw` — the bridge
    * from sampling RATES to the hard per-domain token quotas
    * [[selectTokenBudget]] meters. Floor shares first, then the
    * leftover `R = B − Σfloor` (< nGroups) goes +1 each to the R
    * largest fractional remainders, ties to the smaller group key —
    * fully deterministic, no floating point anywhere (BigInt
    * arithmetic, so `B·w` never overflows at any budget).
    *
    * Scale shape: the weights table is domain-grained and BOUNDED (the
    * [[layoutBy]] `maxGroups` discipline) — apportionment collects the
    * O(groups) rows and runs exact integer math on the driver, the
    * same bounded-collect pattern as the layout prefix; `maxGroups`
    * interlocks a doc-grained misuse. Output (group, weight, quota).
    */
  def apportionBudget(
      weights: DataFrame,
      groupCol: String,
      weightCol: String,
      totalBudget: Long,
      maxGroups: Int = 10000
  ): DataFrame = {
    require(totalBudget >= 0, s"totalBudget must be non-negative, got $totalBudget")
    val spark = weights.sparkSession
    val rows = weights.select(col(groupCol).cast("string"), col(weightCol).cast("long")).take(maxGroups + 1)
    require(
      rows.length <= maxGroups,
      s"apportionBudget collected > $maxGroups '$groupCol' groups: apportionment is for " +
        "domain-grained weight tables (source, language, dataset), not doc-grained ones"
    )
    val gw = rows.map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
    require(gw.map(_._1).distinct.length == gw.length, s"duplicate $groupCol keys in the weight table")
    import spark.implicits._
    hamilton(gw, totalBudget).toDF(groupCol, weightCol, "quota")
  }

  /** The exact largest-remainder core shared by [[apportionBudget]]
    * and [[apportionBudgetBy]]: floor shares in BigInt, leftover +1s
    * to the largest remainders, ties to the smaller key.
    */
  private def hamilton(
      gw: IndexedSeq[(String, Long)],
      totalBudget: Long
  ): IndexedSeq[(String, Long, Long)] = {
    require(gw.forall(_._2 >= 0), "negative weights")
    val totW = gw.map(w => BigInt(w._2)).sum
    require(totW > 0, "apportionBudget: all weights are zero")
    val b = BigInt(totalBudget)
    val based = gw.map { case (g, w) =>
      val prod = b * w
      (g, w, (prod / totW).toLong, prod % totW)
    }
    val leftover = totalBudget - based.map(_._3).sum
    val bump = based
      .sortBy { case (g, _, _, rem) => (-rem, g) }(
        Ordering.Tuple2(Ordering.BigInt, Ordering.String)
      )
      .take(leftover.toInt)
      .map(_._1)
      .toSet
    based.map { case (g, w, base, _) => (g, w, base + (if (bump(g)) 1L else 0L)) }
  }

  /** Epochs-to-exhaustion audit of a mixture plan — the
    * data-constrained-scaling check (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": returns decay
    * rapidly past ~4 epochs of repetition) run BEFORE training
    * commits to a budget: apportion `totalBudget` tokens across the
    * mixture groups exactly (the [[apportionBudget]] Hamilton core),
    * then divide each group's quota by the tokens it actually HAS —
    * `epochs_milli = floor(1000·quota / avail)` — and flag every
    * group whose implied repetition exceeds `maxEpochsMilli`. A
    * flagged row means the mixture, at this budget, will re-read that
    * group's data more often than the repetition ceiling allows: fix
    * the weights, the budget, or the corpus before the trainer pays
    * for degraded epochs.
    *
    * All arithmetic is exact (BigInt shares, integer milli-epochs
    * under floor), so the audit is deterministic across engines.
    * Same bounded-collect scale shape as [[apportionBudget]]: the
    * weight table is domain-grained (`maxGroups` interlock), the
    * corpus-sized token counting happens UPSTREAM in whatever
    * produced `availCol`.
    *
    * Output: `(group, weight, avail_toks, quota, epochs_milli,
    * over_cap)` with Σ quota == totalBudget exactly.
    */
  def budgetExhaustion(
      weights: DataFrame,
      groupCol: String,
      weightCol: String,
      availCol: String,
      totalBudget: Long,
      maxEpochsMilli: Long = 4000L,
      maxGroups: Int = 10000
  ): DataFrame = {
    require(totalBudget >= 0, s"totalBudget must be non-negative, got $totalBudget")
    require(
      totalBudget <= 9000000000000000L, // 9e15: 1000·quota must stay a BIGINT
      s"totalBudget $totalBudget overflows the milli-epoch arithmetic (max 9e15 tokens)"
    )
    require(maxEpochsMilli > 0, s"maxEpochsMilli must be positive, got $maxEpochsMilli")
    val spark = weights.sparkSession
    val rows = weights
      .select(
        col(groupCol).cast("string"),
        col(weightCol).cast("long"),
        col(availCol).cast("long")
      )
      .take(maxGroups + 1)
    require(
      rows.length <= maxGroups,
      s"budgetExhaustion collected > $maxGroups '$groupCol' groups: the audit is for " +
        "domain-grained mixture tables (source, language, dataset), not doc-grained ones"
    )
    val parsed = rows.toIndexedSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    parsed.foreach { case (g, _, a) =>
      require(a > 0, s"budgetExhaustion: group '$g' has non-positive available tokens ($a)")
    }
    val availBy = parsed.map(p => p._1 -> p._3).toMap
    val quotas = hamilton(parsed.map(p => (p._1, p._2)), totalBudget)
    import spark.implicits._
    quotas
      .map { case (g, w, q) =>
        val epochsMilli = (BigInt(1000) * q / availBy(g)).toLong
        (g, w, availBy(g), q, epochsMilli, epochsMilli > maxEpochsMilli)
      }
      .toDF(groupCol, weightCol, "avail_toks", "quota", "epochs_milli", "over_cap")
  }

  /** [[apportionBudget]] per PHASE — the quota table of a multi-phase
    * training curriculum, where each phase runs its own mixture (a
    * warmup phase samples proportionally, an anneal phase flattens
    * with temperature, a final phase upweights a target domain) and
    * its own token budget. Input rows are
    * `(phaseCol, groupCol, weightCol, budgetCol)` — one row per
    * (phase, group), every row of a phase carrying that phase's
    * budget (conflicting budgets within a phase fail loudly; so do
    * duplicate group keys). Output `(phase, group, weight, quota)`
    * with Σ quota == the phase's budget EXACTLY for every phase —
    * Hamilton largest-remainder independently per phase, same BigInt
    * arithmetic and smaller-key tie rule as [[apportionBudget]].
    *
    * Scale shape: the weight table is (phases × groups) — domain-
    * grained and bounded by the same `maxGroups` interlock (applied
    * to the TOTAL row count), collected once; everything after is
    * exact driver arithmetic. The schedule consumer joins quotas back
    * per phase to meter [[selectTokenBudget]] cuts.
    */
  def apportionBudgetBy(
      weights: DataFrame,
      phaseCol: String,
      groupCol: String,
      weightCol: String,
      budgetCol: String,
      maxGroups: Int = 10000
  ): DataFrame = {
    val spark = weights.sparkSession
    val rows = weights
      .select(
        col(phaseCol).cast("string"),
        col(groupCol).cast("string"),
        col(weightCol).cast("long"),
        col(budgetCol).cast("long")
      )
      .take(maxGroups + 1)
    require(
      rows.length <= maxGroups,
      s"apportionBudgetBy collected > $maxGroups ($phaseCol, $groupCol) rows: apportionment " +
        "is for domain-grained weight tables (source, language, dataset), not doc-grained ones"
    )
    val parsed = rows.toIndexedSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val out = parsed
      .groupBy(_._1)
      .toIndexedSeq
      .sortBy(_._1)
      .flatMap { case (ph, rs) =>
        val budgets = rs.map(_._4).distinct
        require(
          budgets.length == 1,
          s"phase '$ph' carries conflicting budgets: ${budgets.sorted.mkString(", ")}"
        )
        require(budgets.head >= 0, s"phase '$ph': budget must be non-negative, got ${budgets.head}")
        val gw = rs.map(r => (r._2, r._3))
        require(
          gw.map(_._1).distinct.length == gw.length,
          s"duplicate $groupCol keys in phase '$ph'"
        )
        hamilton(gw, budgets.head).map { case (g, w, q) => (ph, g, w, q) }
      }
    import spark.implicits._
    out.toDF(phaseCol, groupCol, weightCol, "quota")
  }

  /** Pack-space EFFICIENCY audit — the padding/waste accounting a
    * trainer's telemetry reads per mixture group: under concat-then-
    * chunk packing each group's stream fills every pack completely
    * except its LAST (domain-pure pack spaces never pad interior
    * packs — that is the point of packing), so the whole group wastes
    * exactly `n_packs·budget − total_toks` positions, all in the tail
    * pack. `waste_micro = floor(1e6 · waste / (n_packs·budget))` is
    * the integer-exact wasted-compute fraction (waste < budget, so the
    * 1e6 product never overflows no matter the corpus size — the
    * fraction is computed from the REMAINDER, not from 1e6·total).
    *
    * Input: a [[layoutBy]] layout (per-group streams from offset 0) or
    * a [[layout]] one (pass `groupCols = Nil` → one global row). Scale
    * shape: one hash agg over the manifest (O(docs) rows, no text),
    * output O(groups). A mixture schedule uses this to pick budget /
    * stratification granularity: many tiny groups → tail waste
    * dominates; one global stream → zero waste but no domain purity.
    */
  def packEfficiency(lay: DataFrame, budget: Long, groupCols: Seq[String]): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val grouped =
      if (groupCols.isEmpty) lay.groupBy()
      else lay.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_toks"))
      .withColumn("n_packs", expr(s"(total_toks + ${budget - 1}) div $budget"))
      .withColumn("tail_waste", col("n_packs") * budget - col("total_toks"))
      .withColumn(
        "waste_micro",
        expr(s"(1000000 * tail_waste) div (n_packs * $budget)")
      )
  }

  /** [[packEfficiency]] across a BUDGET SWEEP — the telemetry behind a
    * sequence-length decision: per (group, budget) the same exact
    * tail-waste arithmetic, for every candidate budget in one pass.
    * Choosing the training sequence length trades tail waste (shorter
    * budgets pad less per group) against attention-window utility, and
    * the sweep is how that trade is read off a real mixture before
    * committing a (budget, stratification) pair to `pack_ingest`.
    *
    * Scale shape: the manifest is aggregated ONCE (one hash agg,
    * O(docs) rows → O(groups)); budgets then explode from a literal
    * array — O(groups × budgets) rows of pure integer arithmetic, so a
    * 10-budget sweep costs the same corpus-side work as a single
    * [[packEfficiency]] call. Same overflow posture: waste < budget,
    * so the 1e6 product is computed from the remainder and never
    * overflows at any corpus size.
    */
  def efficiencySweep(
      lay: DataFrame,
      budgets: Seq[Long],
      groupCols: Seq[String]
  ): DataFrame = {
    require(budgets.nonEmpty, "efficiencySweep needs at least one budget")
    budgets.foreach(b => require(b > 0, s"budget must be positive, got $b"))
    require(
      budgets.distinct.size == budgets.size,
      s"duplicate budgets in sweep: ${budgets.mkString(", ")}"
    )
    val grouped =
      if (groupCols.isEmpty) lay.groupBy()
      else lay.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_toks"))
      .withColumn("budget", explode(typedLit(budgets.sorted)))
      .withColumn("n_packs", expr("(total_toks + budget - 1) div budget"))
      .withColumn("tail_waste", col("n_packs") * col("budget") - col("total_toks"))
      .withColumn("waste_micro", expr("(1000000 * tail_waste) div (n_packs * budget)"))
  }
}
