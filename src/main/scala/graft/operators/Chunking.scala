package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sliding-window document chunking — the long-document primitive
  * shared by embedding/retrieval pipelines (a doc longer than the
  * encoder's context splits into overlapping windows) and long-context
  * pretraining prep (fixed windows with stride < window keep
  * boundary-spanning text intact in SOME chunk). Deterministic and
  * purely positional: chunk k of a document covers tokens
  * `[k·stride, k·stride + window)` of its token sequence — whitespace
  * words in [[slidingChunks]], frozen-tokenizer MODEL tokens in
  * [[bpeChunks]]/[[bpeChunksFrozen]].
  *
  * Emission rule (documented, deterministic): a chunk is emitted iff
  * it ADDS tokens — chunk 0 always, a later chunk only when the
  * previous chunk did not already reach the document's end
  * (`(k−1)·stride + window < n_toks`). This keeps the tail covered
  * exactly once without emitting a final window fully contained in
  * its predecessor. Empty documents (no tokens) emit nothing.
  *
  * Scale shape: one explode per document (O(chunks) output rows,
  * bounded by `n_toks / stride` each), everything a built-in
  * codegen'd array expression — no shuffle, no UDF, no window
  * function; the chunk text is a slice + join of the row's OWN token
  * array, so text never moves between rows.
  */
object Chunking {

  def slidingChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Long,
      stride: Long
  ): DataFrame = {
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    chunksOf(docs.select(col(idCol), toks.as("__toks")), idCol, window, stride)
  }

  /** [[slidingChunks]] in MODEL-token space: windows and strides are
    * measured in the tokens a FROZEN BPE merge table produces
    * ([[Bpe.modelTokens]]), not whitespace words — long-context prep
    * for a trained tokenizer wants `window` to be what the model
    * actually consumes (a 512-word window can be 900 model tokens and
    * silently overflow the encoder). The `chunk` column carries the
    * model tokens space-joined, `start_tok`/`n_chunk_toks` are
    * model-token coordinates. Same emission rule, same zero-shuffle
    * per-row shape — the BPE apply is one native expression per word,
    * text never leaves its row (see [[Bpe.modelTokens]] on why the
    * per-occurrence apply beats the distinct-word join HERE).
    */
  def bpeChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      window: Long,
      stride: Long
  ): DataFrame = {
    chunksOf(
      docs.select(col(idCol), Bpe.modelTokens(col(textCol), merges).as("__toks")),
      idCol,
      window,
      stride
    )
  }

  /** [[bpeChunks]] against a frozen model dir ([[Bpe.buildModel]]'s
    * versioned layout) — the serving form: a missing or pointer-less
    * model fails loudly in [[Bpe.loadMerges]] rather than silently
    * chunking in whitespace space.
    */
  def bpeChunksFrozen(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelPath: String,
      window: Long,
      stride: Long
  ): DataFrame =
    bpeChunks(
      docs,
      idCol,
      textCol,
      Bpe.loadMerges(docs.sparkSession, modelPath),
      window,
      stride
    )

  /** Pin a chunk table's TOKEN SPACE as a `_space` sidecar — the
    * [[Importance.recordBuckets]] discipline: chunk coordinates
    * (`start_tok`, `n_chunk_toks`, the window/stride grid) are
    * meaningless under a different tokenizer, so a consumer (or a
    * re-chunk into the same dir) under a mismatched space must fail
    * loudly, not silently mix coordinate systems. The space string is
    * `"ws"` or `"bpe:v<n>"` (the frozen model's resolved version —
    * a RETRAINED model re-meters every chunk, so the version is part
    * of the space). First writer records; any later disagreement is
    * refused; same-value re-record is a no-op.
    */
  def recordSpace(spark: org.apache.spark.sql.SparkSession, dir: String, space: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    storedSpace(spark, dir) match {
      case Some(s) =>
        require(
          s == space,
          s"chunk space '$space' disagrees with the space this chunk table was built in " +
            s"('$s', recorded in $dir/_space) — window coordinates do not transfer between " +
            "tokenizers (or tokenizer versions); chunk into a fresh dir or re-chunk everything"
        )
      case None =>
        fs.mkdirs(root)
        Maintenance.writeTextFile(fs, new org.apache.hadoop.fs.Path(root, "_space"), space)
    }
  }

  /** The token space a chunk table was built in, if recorded. */
  def storedSpace(spark: org.apache.spark.sql.SparkSession, dir: String): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Maintenance.readTextFile(fs, new org.apache.hadoop.fs.Path(root, "_space")).map(_.trim)
  }

  private def chunksOf(
      withToks: DataFrame,
      idCol: String,
      window: Long,
      stride: Long
  ): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(stride > 0, s"stride must be positive, got $stride")
    require(
      stride <= window,
      s"stride $stride > window $window would DROP the tokens between consecutive windows"
    )
    withToks
      .withColumn("__n", size(col("__toks")).cast("long"))
      // Empty docs are dropped by exploding an EMPTY starts array, not
      // by a `__n > 0` filter: predicate pushdown would substitute the
      // token expression into the pushed filter, computing the (BPE
      // case: expensive) tokenization TWICE per row — once below the
      // scan, once in the projection. The `when` references only the
      // cheap `__n` attribute, so the token array stays computed once
      // (plan-locked: zero exchanges, one Generate).
      .withColumn(
        "start_tok",
        explode(
          when(col("__n") > 0, sequence(lit(0L), col("__n") - 1L, lit(stride)))
            .otherwise(expr("cast(array() as array<bigint>)"))
        )
      )
      // chunk 0 always; a later chunk only if the previous one did not
      // already cover the document's tail
      .filter(col("start_tok") === 0L || col("start_tok") - stride + window < col("__n"))
      .select(
        col(idCol),
        expr(s"start_tok div ${stride}L").as("chunk_idx"),
        col("start_tok"),
        least(lit(window), col("__n") - col("start_tok")).as("n_chunk_toks"),
        array_join(
          slice(col("__toks"), (col("start_tok") + 1L).cast("int"), least(lit(window), col("__n") - col("start_tok")).cast("int")),
          " "
        ).as("chunk")
      )
  }
}
