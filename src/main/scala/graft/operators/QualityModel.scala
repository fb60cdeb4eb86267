package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frozen-statistics LM quality model — the incremental twin of the
  * q106 corpus-relative surprisal gate. A production curation loop
  * cannot recompute corpus statistics per crawl batch: it trains
  * ("freezes") the bigram model on a reference corpus on a schedule
  * and scores every incoming batch against those frozen tables, the
  * CCNet posture of a served quality model. The gate rule is q106's,
  * bit for bit: per-bigram surprisal is the exact integer
  * `floor(log2(c1 div c12))` (`length(bin(..)) - 1`), a doc keeps iff
  * `surprisal_bits * 5 <= n_bigrams * 22` (avg ≤ 4.4 bits). The one
  * extra decision a frozen model forces is out-of-vocabulary bigrams:
  * a bigram absent from the model scores `oovBits` (default 22 — the
  * keep threshold's numerator bound, so pure-OOV text is rejected,
  * the conservative crawl-gate default).
  *
  * Model state is VERSIONED because the model dir has a concurrent
  * reader (a curation stream's gate) and a scheduled writer (the
  * retrain): each build writes an immutable `v<n>/` dir (`pair/` +
  * `uni/` parquet) and then atomically advances the `_current` pointer
  * file — readers resolve the pointer and serve an immutable
  * directory, so there is no rename-swap window in which a reader can
  * see a moving or half-deleted model (the flaw of a swap-in-place
  * layout), and a crashed build leaves only an orphan version dir that
  * the next build overwrites. The pointer advance itself is a
  * rename-with-OVERWRITE (`FileContext.rename(…, Rename.OVERWRITE)`),
  * never delete-then-rename, so there is no instant with no pointer
  * on disk; [[gate]] additionally retries its resolution once,
  * covering models last flipped by a pre-overwrite build. The
  * previous `retain` versions are kept through the pointer flip for
  * readers that resolved them mid-batch (`retain = 1` suits scheduled
  * retrains; a gate batch that can outlive N retrains needs
  * `retain = N`); older ones are pruned, and a legacy swap-layout
  * `pair/`+`uni/` root gets the same retention instead of deletion on
  * its superseding flip. Scoring is two keyed dict joins (1 row per key on the
  * model side) — the q106 de-skew shape: no count window on a raw
  * token key, and a Zipf-head join key is exactly what AQE's
  * skewed-join rule CAN split. Docs with fewer than two tokens have
  * no bigrams and are absent from the gate's output (q106's
  * contract) — callers gating a corpus treat absent as not-kept.
  */
object QualityModel {

  private type HPath = org.apache.hadoop.fs.Path
  private type HFs = org.apache.hadoop.fs.FileSystem

  private def currentVersion(fs: HFs, model: HPath): Option[Int] =
    Maintenance.readTextFile(fs, new HPath(model, "_current")).map(_.trim.toInt)

  /** Build (freeze) the model from a reference corpus: bigram pair
    * counts and left-unigram totals. One bigram explode + two rollup
    * aggregates (map-side partial combine bounds each task's shuffle
    * rows by its distinct keys); the write is the whole model — this
    * is the scheduled retrain, not a per-batch path. Builds are
    * single-writer (a schedule, not a loop); readers are concurrent
    * and never blocked: the new version becomes visible only at the
    * pointer flip.
    */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      retain: Int = 1
  ): Unit = {
    require(retain >= 1, "retain must keep at least the immediate predecessor")
    val fsPath = new HPath(modelPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(fsPath)
    val cur = currentVersion(fs, fsPath)
    val next = cur.getOrElse(0) + 1
    val vDir = new HPath(fsPath, s"v$next")
    // An orphan v<next> is a crashed build's half-written output — the
    // pointer never advanced, no reader can hold it.
    Maintenance.deleteOrFail(fs, vDir)
    // The pair table is pinned (ONE corpus pass — the pin replaces the
    // old written-table read-back barrier) and its parquet write then
    // OVERLAPS the uni rollup+write on a second driver thread: both
    // land under the un-pointered v<next> dir, so a crash in the
    // window leaves the same orphan the pointer-flip protocol already
    // heals (guide §2.6).
    val pair = bigrams(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).as("c12"))
      .localCheckpoint()
    Overlap.both {
      pair.write.parquet(new HPath(vDir, "pair").toString)
    } { _ =>
      // c1 = total occurrences of w1 as a bigram head — exactly q106's
      // rollup, off the pin.
      pair
        .groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"))
        .write
        .parquet(new HPath(vDir, "uni").toString)
    }
    // Atomic pointer flip: tmp + rename WITH OVERWRITE — a
    // delete-then-rename pair would leave a window with no pointer on
    // disk, and a gate() resolving in it (over a model with no legacy
    // pair/ fallback) would throw. Readers that resolved the previous
    // version keep an immutable dir; new readers get v<next>.
    val ptr = new HPath(fsPath, "_current")
    val ptrTmp = new HPath(fsPath, "_current.__tmp")
    Maintenance.writeTextFile(fs, ptrTmp, next.toString)
    org.apache.hadoop.fs.FileContext
      .getFileContext(fsPath.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(ptrTmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // Retain v<next> and its `retain` predecessors (mid-batch readers);
    // prune older versions. Legacy swap-layout dirs (pair/, uni/) get
    // the SAME retention — pruned only once `retain` versioned flips
    // sit on top of them, never on the flip that supersedes them, so a
    // concurrent legacy-layout reader mid-batch keeps its serving dirs.
    fs.listStatus(fsPath)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        val ver = n.drop(1)
        (n.startsWith("v") && ver.nonEmpty && ver.forall(_.isDigit) && ver.toInt < next - retain) ||
        ((n == "pair" || n == "uni") && cur.exists(_ >= retain))
      }
      .foreach(p => Maintenance.deleteOrFail(fs, p))
  }

  /** Score a batch against a frozen model. Output per doc (≥ 2
    * tokens): `doc_id, surprisal_bits, n_bigrams, avg_bits, keep_doc`
    * — q106's exact columns and rule, with OOV bigrams scoring
    * `oovBits`. READ-ONLY: resolves the `_current` pointer to an
    * immutable version dir and never mutates the model layout (a
    * legacy swap-layout model — bare `pair/`+`uni/`, no pointer — is
    * served as-is until the next build versions it).
    */
  def gate(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      oovBits: Int = 22
  ): DataFrame = {
    val fsPath = new HPath(modelPath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def resolve(): HPath = currentVersion(fs, fsPath) match {
      case Some(v) => new HPath(fsPath, s"v$v")
      case None =>
        if (fs.exists(new HPath(fsPath, "pair"))) fsPath // legacy layout
        else throw new java.io.FileNotFoundException(s"no quality model at $modelPath")
    }
    // One retry: the current build's pointer flip is overwrite-atomic,
    // but a model last flipped by a pre-overwrite build can expose a
    // one-call no-pointer window to a concurrent reader.
    val serveFrom =
      try resolve()
      catch { case _: java.io.FileNotFoundException => resolve() }
    val pair = Parquet.read(spark, new HPath(serveFrom, "pair").toString)
    val uni = Parquet.read(spark, new HPath(serveFrom, "uni").toString)
    bigrams(batch, idCol, textCol)
      .join(pair, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .withColumn(
        "bits",
        when(col("c12").isNull, lit(oovBits.toLong))
          .otherwise((length(bin(expr("c1 div c12"))) - 1).cast("long"))
      )
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt") * col("bits")).as("surprisal_bits"),
        sum(col("cnt")).as("n_bigrams")
      )
      .select(
        col("doc_id"),
        col("surprisal_bits"),
        col("n_bigrams"),
        (col("surprisal_bits").cast("double") / col("n_bigrams")).as("avg_bits"),
        (col("surprisal_bits") * 5 <= col("n_bigrams") * 22).as("keep_doc")
      )
  }

  /** Per-doc bigram counts — the `(doc_id, w1, w2, cnt)` grain, bounded
    * per doc by its length. THE single definition of the bigram rule:
    * q106's corpus-relative gate and this frozen gate both build on it,
    * which is what makes the spec'd "self-model gate ≡ q106 bit for
    * bit" claim structural rather than a coincidence of two copies.
    * (The isNotNull filter on both keys is plan hygiene — split tokens
    * are never null — so every join branch infers the same filters and
    * the exchanges canonicalize equal; see q106's plan lock.)
    */
  private[graft] def perDocBigramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = bigrams(docs, idCol, textCol)

  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), "\\s+")
    docs
      .filter(size(toks) >= 2)
      .select(
        col(idCol).as("doc_id"),
        explode(
          zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2"))
          )
        ).as("bg")
      )
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
  }
}
