package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training as a Spark operator family —
  * the missing piece between the token-counting/vocab operators
  * (q18/q52) and the packing family (q110+): learn the merge table a
  * training pipeline would tokenize with, from the corpus itself.
  *
  * Algorithm (classic BPE, Sennrich et al. 2016 / GPT-2 style, over
  * whitespace words): start from character sequences, repeatedly merge
  * the globally most frequent adjacent symbol pair. Determinism
  * contract shared with the DuckDB oracle: the winning pair is the
  * total order (count DESC, lhs ASC, rhs ASC), and one merge round
  * replaces leftmost non-overlapping occurrences left-to-right —
  * exactly the semantics of SQL `replace` on the boundary-delimited
  * symbol string (below), so the oracle can replay every round.
  *
  * Scale shape — the two-tier structure every real trainer uses:
  *   1. [[wordHistogram]] is the only corpus-sized stage: one
  *      map-side-combined groupBy over the token stream (at 100 TB,
  *      the word histogram is ~10^8 rows — 5-6 orders smaller than the
  *      token stream, and `minCount` prunes the long tail further, the
  *      standard trainer knob).
  *   2. Every merge round runs over that BOUNDED histogram: one
  *      pair-count aggregation + a LIMIT 1 collect (one row) + one
  *      codegen'd string `replace` projection. O(V) work per round,
  *      never O(corpus); lineage is truncated every `checkpointEvery`
  *      rounds so a 50k-merge vocabulary doesn't stack 50k projections
  *      into one plan. (The single-node alternative — collect the
  *      histogram and run the heap-based incremental trainer — is the
  *      right call when V·avgLen fits on the driver; this loop is the
  *      exact same result computed without that assumption.)
  *
  * Symbol representation: a word is the string `|c1||c2||...||cn|` —
  * symbols joined by `||` with single `|` boundaries. The merge of
  * (l, r) is then literal-string `replace("|l||r|", "|lr|")`:
  * boundary pipes make a symbol match exact (no symbol-suffix false
  * positives), and the shared middle `||` makes adjacent occurrences
  * (`|a||b||a||b|`) merge non-overlapping left-to-right, which is the
  * BPE rule. Precondition (enforced loudly in [[learnMerges]]): no
  * token contains `|`; a corpus that does must remap it first —
  * silently mis-parsing symbol boundaries is worse than failing.
  */
object Bpe {

  /** `"hello"` → `"|h||e||l||l||o|"` (one codegen'd regexp pass). */
  private def repOf(word: Column): Column = {
    val doubled = regexp_replace(word, "(.)", "||$1")
    concat(doubled.substr(lit(2), length(doubled)), lit("|"))
  }

  /** Parse the symbol string back to its symbol array. Splits on RUNS
    * of pipes (symbols never contain '|'), which references `sym`
    * exactly ONCE: the previous substr(…, length(…)) form referenced
    * it twice, and since each Column use converts to its own
    * expression node (constructor-state expressions never unify in
    * canonicalization), `symsOf(applyMerges(…))` was paying the whole
    * BPE apply TWICE per row — visible in the q116 plan and halved by
    * this form.
    */
  private def symsOf(sym: Column): Column =
    filter(split(sym, "\\|+"), s => s =!= "")

  /** Adjacent symbol pairs as (lhs, rhs) structs; empty for 1-symbol
    * words (slice of length 0).
    */
  private def pairsOf(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("lhs"), b.as("rhs"))
    )

  /** The corpus-sized stage: whitespace-token histogram with the
    * initial character-level symbol string. Empty tokens are dropped
    * (they carry no symbols and no pairs — count-neutral for every
    * consumer). Returns (word, cnt, sym).
    */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("sym", repOf(col("word")))

  /** One learned merge: (lhs, rhs, pair count at selection time). */
  final case class Merge(lhs: String, rhs: String, cnt: Long)

  /** Learn up to `numMerges` BPE merges. Stops early when no pair is
    * left (every word fully merged). Two execution paths, identical
    * output (spec-proved on random corpora):
    *
    *  - **driver path** (the common case): when the pruned histogram's
    *    total character volume fits under `driverMaxChars`, collect it
    *    ONCE and run the incremental in-memory trainer
    *    ([[learnMergesLocal]]) — pair counts maintained under an
    *    ordered set, each round updating only the words the winning
    *    pair touches. A production 50k-merge vocabulary is 50k
    *    O(affected·log P) map updates instead of 50k sequential Spark
    *    jobs — the scheduler overhead, not the arithmetic, is what
    *    made the distributed loop days-long at real vocabulary sizes.
    *    Even a web-corpus histogram is a few GB after `minCount`
    *    pruning (the standard trainer posture).
    *  - **distributed path**: when the histogram genuinely doesn't
    *    fit, the original loop — one pair-count aggregation + a
    *    LIMIT 1 collect (one row) per round over the bounded
    *    histogram, lineage truncated every `checkpointEvery` rounds.
    *
    * Bounded driver traffic either way: the whole pruned histogram
    * once (driver path, size-gated), or one row per round.
    */
  def learnMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 1L,
      checkpointEvery: Int = 12,
      driverMaxChars: Long = 16L << 20
  ): Seq[Merge] = {
    // Pin the histogram FIRST, then run every probe over the pin: the
    // previous shape ran the separator interlock as a take(1) over the
    // un-pinned histogram (a full map stage of the corpus groupBy) and
    // then localCheckpoint'd it AGAIN for the path probe — two
    // corpus-sized histogram computations and four driver actions per
    // learnMerges call, where one compute and three actions suffice
    // (guide §1.2: remove passes before tuning anything else). The
    // interlock and the sizing probe now share ONE bounded agg over the
    // pinned (word, cnt) table; `sym` stays out of the pin (the driver
    // path never needs it, the distributed path re-derives it).
    val hist = wordHistogram(df, textCol).select(col("word"), col("cnt")).localCheckpoint()
    // Separator interlock (over the FULL histogram, as before — a
    // pruned-away token still fails loudly) + driver-path sizing (over
    // the PRUNED set) in one job, loud failure.
    val probeRow = hist
      .agg(
        coalesce(
          sum(when(col("cnt") >= minCount, length(col("word"))).otherwise(lit(0L))),
          lit(0L)
        ).as("chars"),
        first(when(col("word").contains("|"), col("word")), ignoreNulls = true).as("bad")
      )
      .collect()(0)
    require(
      probeRow.isNullAt(1),
      s"BPE symbol boundary '|' occurs inside token '${probeRow.getString(1)}': " +
        "remap '|' out of the corpus (e.g. translate to a private-use char) before training"
    )
    val pruned = if (minCount > 1L) hist.filter(col("cnt") >= minCount) else hist
    val probe = probeRow.getLong(0)
    if (probe <= driverMaxChars) {
      System.err.println(
        s"[graft.Bpe] histogram fits on the driver ($probe chars <= $driverMaxChars): " +
          "running the incremental in-memory trainer (identical merges, no per-round jobs)"
      )
      val hist = pruned.collect().map(r => (r.getString(0), r.getLong(1)))
      learnMergesLocal(hist, numMerges)
    } else {
      System.err.println(
        s"[graft.Bpe] histogram exceeds driverMaxChars ($probe > $driverMaxChars): " +
          "running the distributed per-round loop"
      )
      var h = pruned.withColumn("sym", repOf(col("word"))).select(col("sym"), col("cnt"))
      val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
      var continue = true
      while (out.length < numMerges && continue) {
        val top = h
          .select(explode(pairsOf(symsOf(col("sym")))).as("p"), col("cnt"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .collect()
        if (top.isEmpty) continue = false
        else {
          val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += Merge(l, r, c)
          h = h.withColumn("sym", applyMerge(col("sym"), l, r))
          if (out.length % checkpointEvery == 0) h = h.localCheckpoint()
        }
      }
      out.toSeq
    }
  }

  /** UTF-8 byte order (= code-point order) — what Spark's string sort
    * and the DuckDB oracle use; Java `compareTo` is UTF-16 code-unit
    * order, which disagrees above the BMP. The trainer's tie-break
    * must match the distributed loop's `orderBy` exactly.
    */
  private def utf8Compare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Incremental in-memory BPE trainer over a collected (word, cnt)
    * histogram — output-identical to the distributed loop (count DESC,
    * lhs ASC, rhs ASC argmax; leftmost non-overlapping replacement per
    * round). Pair counts live under an ordered set so each round's
    * argmax is O(log P), and a merge re-counts only the words that
    * actually contain the winning pair (tracked per pair).
    */
  private[graft] def learnMergesLocal(hist: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    val nW = hist.length
    val cnts = new Array[Long](nW)
    val seqs = new Array[Array[String]](nW)
    var w = 0
    while (w < nW) {
      cnts(w) = hist(w)._2
      val word = hist(w)._1
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        val n = Character.charCount(cp)
        buf += word.substring(i, i + n)
        i += n
      }
      seqs(w) = buf.toArray
      w += 1
    }
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(b._1, a._1) // cnt DESC
        if (c != 0) c
        else {
          val l = utf8Compare(a._2, b._2)
          if (l != 0) l else utf8Compare(a._3, b._3)
        }
      }
    }
    val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords =
      scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.Set[Int]]
    val tree = scala.collection.mutable.TreeSet.empty[(Long, String, String)](ord)
    // Counts are only CONSULTED at round boundaries (the argmax pop), so
    // per-occurrence ordered-set maintenance is wasted work: one merge
    // round rescans every affected word, and those words bump the same
    // handful of pairs thousands of times each. Deltas accumulate in a
    // plain map during the round and the tree/pairCnt flush ONCE per
    // distinct changed pair at the boundary — measured 2.7× on the 1M-word
    // × 4k-merge stress shape (157.6 s → 58.8 s same box, identical merge
    // table), state identical at every boundary by construction. (Two rewrites that LOST, so nobody retries them: an
    // append-only/lazy-stale pairWords index — 2.7× slower, popular pairs
    // accumulate re-added candidates faster than the stale check skips
    // them — and int-interned symbols with packed-long pair keys — ~3×
    // slower, boxed-Long map churn beats cached String hashes.)
    val delta = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def bump(p: (String, String), d: Long): Unit = {
      val nv = delta.getOrElse(p, 0L) + d
      if (nv == 0L) delta.remove(p) else delta(p) = nv
    }
    def flush(): Unit = {
      delta.foreach { case (p, d) =>
        val old = pairCnt.getOrElse(p, 0L)
        if (old > 0L) tree.remove((old, p._1, p._2))
        val nv = old + d
        if (nv > 0L) {
          pairCnt(p) = nv
          tree.add((nv, p._1, p._2))
        } else pairCnt.remove(p)
      }
      delta.clear()
    }
    def addWord(w: Int): Unit = {
      val s = seqs(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        bump(p, cnts(w))
        pairWords.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
        i += 1
      }
    }
    def dropWord(w: Int): Unit = {
      val s = seqs(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        bump(p, -cnts(w))
        pairWords.get(p).foreach(_ -= w)
        i += 1
      }
    }
    w = 0
    while (w < nW) { addWord(w); w += 1 }
    flush()
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    while (out.length < numMerges && tree.nonEmpty) {
      val (c, l, r) = tree.head
      out += Merge(l, r, c)
      val affected = pairWords.get((l, r)).map(_.toArray).getOrElse(Array.empty)
      val merged = l + r
      var a = 0
      while (a < affected.length) {
        val wi = affected(a)
        dropWord(wi)
        val s = seqs(wi)
        val nb = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == l && s(j + 1) == r) { nb += merged; j += 2 }
          else { nb += s(j); j += 1 }
        }
        seqs(wi) = nb.toArray
        addWord(wi)
        a += 1
      }
      flush()
    }
    out.toSeq
  }

  /** One merge round on a symbol string: literal (non-regex semantics
    * via quoting), leftmost non-overlapping — the BPE rule and SQL
    * `replace`'s rule.
    */
  private def applyMerge(sym: Column, l: String, r: String): Column =
    regexp_replace(
      sym,
      lit(java.util.regex.Pattern.quote(s"|$l||$r|")),
      lit(java.util.regex.Matcher.quoteReplacement(s"|$l$r|"))
    )

  /** Apply an ordered merge table to a symbol column (training-order
    * fold — the standard "apply merges in learned order" tokenizer
    * approximation).
    *
    * Executes as ONE native expression
    * ([[graft.functions.BpeApplyMerges]]) holding the table as
    * constructor state: the per-merge `regexp_replace` fold builds a
    * merge-count-deep expression tree (Catalyst analysis cost, codegen
    * collapse past the JVM method limit, O(merges × length) regex
    * scans per word at a production 32k-64k vocabulary); the native
    * loop touches only pairs present in the word — O(len · log len)
    * per word, merge-count-flat — and is spec-proved bit-identical to
    * the fold (BpeSpec, fixed + random corpora at 8 and ~1k merges).
    * Resolves in any [[graft.GraftSession]] session, which installs
    * the native functions.
    */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) sym
    else graft.functions.GraftFunctions.graft_bpe_apply(sym, merges)

  /** The reference fold ([[applyMerge]] per merge in training order) —
    * the semantics [[applyMerges]]' native expression must match;
    * kept for the spec A/B and as the registry-free fallback.
    */
  private[graft] def applyMergesFold(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Learned merge table as a DataFrame: (merge_rank, lhs, rhs, cnt). */
  def learn(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 1L,
      driverMaxChars: Long = 16L << 20
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    learnMerges(df, textCol, numMerges, minCount, driverMaxChars = driverMaxChars).zipWithIndex
      .map { case (m, i) => (i + 1, m.lhs, m.rhs, m.cnt) }
      .toDF("merge_rank", "lhs", "rhs", "cnt")
  }

  private type HPath = org.apache.hadoop.fs.Path

  /** Freeze a trained merge table as a versioned model — the
    * [[QualityModel]] serving protocol applied to the tokenizer: each
    * build writes an immutable `v<n>/merges` parquet and atomically
    * advances the `_current` pointer (rename-with-OVERWRITE — no
    * no-pointer instant), `retain` predecessors are kept for readers
    * that resolved them mid-batch, and a crashed build leaves only an
    * orphan version dir the next build overwrites. A frozen tokenizer
    * is what makes BPE token counts STABLE across a crawl: metering
    * packs (q117's bridge) with a drifting vocabulary would silently
    * re-meter history.
    */
  def buildModel(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      textCol: String,
      modelPath: String,
      numMerges: Int,
      minCount: Long = 1L,
      retain: Int = 1,
      driverMaxChars: Long = 16L << 20
  ): Unit = {
    require(retain >= 1, "retain must keep at least the immediate predecessor")
    val fsPath = new HPath(modelPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(fsPath)
    val cur = Maintenance.readTextFile(fs, new HPath(fsPath, "_current")).map(_.trim.toInt)
    val next = cur.getOrElse(0) + 1
    val vDir = new HPath(fsPath, s"v$next")
    Maintenance.deleteOrFail(fs, vDir)
    learn(docs, textCol, numMerges, minCount, driverMaxChars)
      .coalesce(1)
      .write
      .parquet(new HPath(vDir, "merges").toString)
    val ptr = new HPath(fsPath, "_current")
    val ptrTmp = new HPath(fsPath, "_current.__tmp")
    Maintenance.writeTextFile(fs, ptrTmp, next.toString)
    org.apache.hadoop.fs.FileContext
      .getFileContext(fsPath.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(ptrTmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    fs.listStatus(fsPath)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        val ver = n.drop(1)
        n.startsWith("v") && ver.nonEmpty && ver.forall(_.isDigit) && ver.toInt < next - retain
      }
      .foreach(p => Maintenance.deleteOrFail(fs, p))
  }

  /** Resolve and load a frozen merge table in training order. One
    * pointer retry, as [[QualityModel.gate]]: covers models last
    * flipped by a pre-overwrite build.
    */
  def loadMerges(
      spark: org.apache.spark.sql.SparkSession,
      modelPath: String
  ): Seq[(String, String)] = {
    val fsPath = new HPath(modelPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def resolve(): HPath =
      Maintenance.readTextFile(fs, new HPath(fsPath, "_current")).map(_.trim.toInt) match {
        case Some(v) => new HPath(fsPath, s"v$v")
        case None    => throw new java.io.FileNotFoundException(s"no BPE model at $modelPath")
      }
    val serveFrom =
      try resolve()
      catch { case _: java.io.FileNotFoundException => resolve() }
    Parquet.read(spark, new HPath(serveFrom, "merges").toString)
      .orderBy(col("merge_rank"))
      .collect()
      .toIndexedSeq
      .map(r => (r.getString(1), r.getString(2)))
  }

  /** The frozen model's current version number, if a `_current`
    * pointer exists — consumers that pin outputs to a tokenizer
    * version (chunk spaces, pack meters) read it without loading the
    * merges.
    */
  def currentVersion(
      spark: org.apache.spark.sql.SparkSession,
      modelPath: String
  ): Option[Int] = {
    val fsPath = new HPath(modelPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Maintenance.readTextFile(fs, new HPath(fsPath, "_current")).map(_.trim.toInt)
  }

  /** [[segmentCounts]] against a frozen model — the serving-side pair
    * of [[buildModel]] (a batch scorer never retrains).
    */
  def segmentCountsFrozen(
      df: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String
  ): DataFrame =
    segmentCounts(df, idCol, textCol, loadMerges(df.sparkSession, modelPath))

  /** Materialize the first `nPacks` training sequences of the
    * BPE-metered stream — the loader side of weighted packing (q117's
    * manifest): packs are built from MODEL tokens (the symbols the
    * merge table produces), so what this returns is literally the
    * sequence a trainer consumes, with per-position doc provenance.
    *
    * Shape: the q111/q114 prune-before-explode contract in BPE space.
    * The weighted layout selects only docs overlapping the requested
    * window BEFORE any token materializes; the within-doc BPE position
    * is a two-level prefix — a per-doc running sum of per-WORD symbol
    * counts (window partitioned by doc, bounded by doc length) plus
    * the symbol's index inside its word (posexplode) — so the explode
    * volume is O(selected docs' tokens) = O(nPacks · budget) plus the
    * straddling doc, never the corpus. The vocab fold runs over
    * distinct words only, as [[segmentCounts]].
    */
  def packSlices(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      nPacks: Long,
      budget: Long,
      nShards: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val window = budget * nPacks
    // Pinned: the segmented vocabulary feeds BOTH the weights agg and
    // the final join — unpinned, each use recomputes the corpus-sized
    // word histogram (and the merge apply) from scratch. V rows.
    val vocab = wordHistogram(docs, textCol)
      .select(col("word"), symsOf(applyMerges(col("sym"), merges)).as("syms"))
      .withColumn("n_sym", size(col("syms")).cast("long"))
      .localCheckpoint()
    val inst = docs
      .select(col(idCol), posexplode(split(col(textCol), "\\s+")).as(Seq("wpos", "word")))
      .filter(col("word") =!= "")
    val weights = inst
      .join(vocab.select(col("word"), col("n_sym")), Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("n_sym")).as("n_bpe"))
    val sel = Packing
      .layoutWeighted(weights, idCol, "n_bpe", nShards)
      .filter(col("start_tok") < window)
      .select(col(idCol), col("start_tok"))
    val w = Window
      .partitionBy(col(idCol))
      .orderBy(col("wpos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inst
      .join(sel, Seq(idCol))
      .join(vocab, Seq("word"))
      .withColumn("wprefix", sum(col("n_sym")).over(w) - col("n_sym"))
      .select(
        col(idCol),
        col("start_tok"),
        col("wprefix"),
        posexplode(col("syms")).as(Seq("spos", "token"))
      )
      .withColumn("gpos", col("start_tok") + col("wprefix") + col("spos"))
      .filter(col("gpos") < window)
      .select(
        expr(s"gpos div $budget").as("pack_id"),
        (col("gpos") % budget).as("pos_in_pack"),
        col(idCol),
        col("token")
      )
  }

  /** Per-document MODEL-token array: each whitespace word run through
    * the merge table (the native [[applyMerges]] expression), the
    * per-word symbol arrays flattened in word order — the ordered
    * sequence a trained tokenizer produces for the document.
    *
    * Scale shape: ONE pure per-row array expression — no shuffle, no
    * UDF, text never leaves its row. This deliberately applies the
    * merge fold per word OCCURRENCE rather than per distinct word:
    * the distinct-word-vocab alternative ([[segmentCounts]]'s shape)
    * would explode the corpus token stream, shuffle it to join the
    * vocab, and shuffle AGAIN to regroup tokens into per-doc order —
    * two corpus-sized shuffles to save CPU the native per-word apply
    * (O(len·log len), merge-count-flat) spends locally. For consumers
    * that need the tokens IN ORDER per document (chunking, rendering)
    * the zero-shuffle map wins at any corpus size; counters that
    * don't need order should keep using [[segmentCounts]].
    *
    * Resolves in any [[graft.GraftSession]] session, which installs
    * the native functions.
    */
  def modelTokens(textCol: Column, merges: Seq[(String, String)]): Column =
    flatten(
      transform(
        filter(split(textCol, "\\s+"), w => w =!= lit("")),
        w => symsOf(applyMerges(repOf(w), merges))
      )
    )

  /** MODEL-token count of a text column — `size([[modelTokens]])`
    * without materializing the flattened token array: a per-row fold
    * summing each word's post-merge symbol count. Zero shuffle, no
    * UDF; the text never leaves its row.
    *
    * This deliberately re-tokenizes each ROW rather than joining a
    * distinct-word vocab ([[segmentCounts]]'s shape): for already-
    * RENDERED text (DPO prompts, few-shot assemblies) the vocab
    * route would explode the rendered corpus to its token stream and
    * shuffle it twice to regroup — two rendered-corpus-sized shuffles
    * to save CPU the per-word native apply (O(len·log len),
    * merge-count-flat) spends locally. Resolves in any
    * [[graft.GraftSession]] session, which installs the native
    * functions.
    */
  def modelTokenCount(textCol: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty)
      // Zero merges: token count = whitespace-word symbol count; the
      // native expression requires a non-empty table (apply() skips
      // empty tables too), so keep the reference chain for this
      // degenerate case.
      modelTokenCountFold(textCol, merges)
    else
      // ONE codegen'd single-pass call per row (graft_bpe_count) —
      // the reference HOF chain below evaluates its lambdas outside
      // whole-stage codegen, one interpreted tree walk per WORD, and
      // builds three intermediate strings per word to produce one
      // integer (measured: q180's metering projection was a 1.06 s
      // job at sf0.1, the row's dominant cost). Bit-identical
      // (BpeSpec A/B, incl. '|' words and whitespace edge cases).
      graft.functions.GraftFunctions.graft_bpe_count(textCol, merges)

  /** The reference HOF chain — the semantics [[modelTokenCount]]'s
    * native expression must match; kept for the spec A/B and the
    * empty-table degenerate case.
    */
  private[graft] def modelTokenCountFold(textCol: Column, merges: Seq[(String, String)]): Column =
    aggregate(
      filter(split(textCol, "\\s+"), w => w =!= lit("")),
      lit(0L),
      (acc, w) => acc + size(symsOf(applyMerges(repOf(w), merges))).cast("long")
    )

  /** Add a `<col>_toks` MODEL-token count for each named text column —
    * the coordinates a trainer meters by (loss masks, length debias,
    * curriculum buckets) in the FROZEN tokenizer's own space rather
    * than whitespace words. One pure projection ([[modelTokenCount]]
    * per column): no shuffle, no join, plan shape unchanged.
    */
  def withModelTokenCounts(
      df: DataFrame,
      textCols: Seq[String],
      merges: Seq[(String, String)]
  ): DataFrame = {
    textCols.foldLeft(df)((acc, c) =>
      acc.withColumn(s"${c}_toks", modelTokenCount(col(c), merges)))
  }

  /** [[withModelTokenCounts]] against a frozen model dir
    * ([[buildModel]]'s layout, [[loadMerges]]' serving discipline):
    * the release-time arm — a DPO/SFT export must count in the
    * tokenizer the TRAINER will run, not one relearned per drain.
    */
  def withModelTokenCountsFrozen(
      df: DataFrame,
      textCols: Seq[String],
      modelPath: String
  ): DataFrame =
    withModelTokenCounts(df, textCols, loadMerges(df.sparkSession, modelPath))

  /** The distinct model symbols a merge table produces over a corpus —
    * the BPE id space's string side. Derived from the DISTINCT-word
    * histogram (the merge fold runs V times, not corpus-size times);
    * feed it to `Vocab.withIds` for the dense-rank integer ids that
    * make [[packSlices]] output a trainer-ready integer sequence.
    */
  def symbols(docs: DataFrame, textCol: String, merges: Seq[(String, String)]): DataFrame = {
    wordHistogram(docs, textCol)
      .select(explode(symsOf(applyMerges(col("sym"), merges))).as("token"))
      .distinct()
  }

  /** Per-document segmentation stats under a merge table: one native
    * per-row count per document, then one doc-keyed agg over the
    * per-row partials. Returns (<idCol>, n_tokens, n_bpe_tokens,
    * bpe_ratio); documents with zero whitespace tokens emit nothing
    * (the historical explode-join semantics, kept).
    *
    * Shape history (round 16): the previous form tokenized the
    * DISTINCT-word vocab and equi-joined it back to the exploded
    * token stream — TWO corpus-token-sized exchanges (explode + join
    * by word, then the doc regroup) to amortize the merge fold across
    * repeated words. The native count ([[modelTokenCount]]'s
    * expression) amortizes repeats locally through its bounded
    * word→count memo instead, so the same cross-word sharing now
    * costs ZERO shuffles of the token stream: the one remaining
    * exchange carries one slim partial row per input row (duplicate
    * `idCol` rows pool, as before). Spec-proved output-identical to
    * the vocab-join form (BpeSpec).
    */
  def segmentCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    df.select(
        col(idCol),
        size(filter(split(col(textCol), "\\s+"), w => w =!= lit(""))).cast("long").as("__nt"),
        modelTokenCount(col(textCol), merges).as("__nb")
      )
      .filter(col("__nt") > 0)
      .groupBy(col(idCol))
      .agg(
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nb")).as("n_bpe_tokens")
      )
      .withColumn("bpe_ratio", col("n_bpe_tokens").cast("double") / col("n_tokens"))
  }

  /** The vocab-join reference form of [[segmentCounts]] — kept for the
    * spec A/B that proves the per-row native shape output-identical.
    */
  private[graft] def segmentCountsVocabJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]
  ): DataFrame = {
    val vocab = wordHistogram(df, textCol)
      .select(col("word"), size(symsOf(applyMerges(col("sym"), merges))).as("n_sym"))
    df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .join(vocab, Seq("word"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("n_sym")).as("n_bpe_tokens")
      )
      .withColumn("bpe_ratio", col("n_bpe_tokens").cast("double") / col("n_tokens"))
  }
}
