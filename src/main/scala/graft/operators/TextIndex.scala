package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent inverted text index on parquet — the text twin of
  * [[VectorIndex]]: posting lists bucketed by token hash so a query
  * reads ONLY its terms' buckets, plus a doc-stats table for BM25
  * length normalization. Build once, search every batch, append new
  * documents incrementally.
  *
  * Layout under `indexPath`:
  *   - `postings/` — `(token, doc_id, tf)` hive-partitioned by
  *     `bucket = h28(token) mod nBuckets`: a search's
  *     `bucket IN (...)` filter becomes partition pruning, and the
  *     token equality prunes further inside the bucket (footer stats).
  *   - `docs/` — `(doc_id, dl)` document lengths; corpus aggregates
  *     (N, Σdl) are recomputed from it at search time — one tiny agg
  *     that stays consistent under appends with no stored counters.
  *
  * Scoring is [[graft.queries.TextQueries.bm25Score]] — the identical
  * expression shape q82 evaluates directly, so index-served scores are
  * bit-identical to the from-scratch computation (TextIndexSpec).
  */
object TextIndex {

  private val nBuckets = 64

  private def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  private def bucketOf(token: Column): Column = pmod(h28(token), lit(nBuckets))

  private def tokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))

  /** Build the index from `(doc_id, text)` documents. */
  def build(spark: SparkSession, docs: DataFrame, indexPath: String): Unit = {
    val d = docs.select(col("doc_id"), col("text"))
    d.select(col("doc_id"), size(split(col("text"), "\\s+")).as("dl"))
      .write
      .mode("overwrite")
      .parquet(s"$indexPath/docs")
    tokenize(d)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("token")))
      // Co-locate each bucket before the partitioned write: one
      // postings-row shuffle buys ~one file per bucket dir instead of
      // shuffle-partitions × 64 tiny files (the VectorIndex.build
      // file-count rule).
      .repartition(col("bucket"))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$indexPath/postings")
  }

  /** Append new documents; already-indexed doc_ids are anti-joined away
    * so replays are idempotent (the [[NearDupIndex]] contract).
    */
  def append(spark: SparkSession, docs: DataFrame, indexPath: String): Unit = {
    // Single-writer fence on the INDEX root (r16), covering the
    // idempotence anti-join and both writes: two concurrent appends
    // sharing a doc_id both pass the anti-join and double-index it
    // (duplicate posting rows inflate df and skew BM25 silently), and
    // an append racing compactIndex can land files into dirs the
    // compaction then deletes. Adhoc token — appends are idempotent
    // by the anti-join, so the crash runbook is lease_break + re-run.
    DurableRoot.textIndex(spark, indexPath, "TextIndex.append")
      .write(DurableRoot.adhocToken("tidx-append")) {
      val existing = Parquet.read(spark, s"$indexPath/docs").select("doc_id")
      val fresh = docs
        .select(col("doc_id"), col("text"))
        .join(existing, Seq("doc_id"), "left_anti")
        .localCheckpoint() // settle before the two writes
      fresh
        .select(col("doc_id"), size(split(col("text"), "\\s+")).as("dl"))
        .write
        .mode("append")
        .parquet(s"$indexPath/docs")
      tokenize(fresh)
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", bucketOf(col("token")))
        .repartition(col("bucket")) // ~one file per touched bucket dir (see build)
        .write
        .mode("append")
        .partitionBy("bucket")
        .parquet(s"$indexPath/postings")
    }
  }

  /** Scheduled read-optimize for an appended index: every [[append]]
    * leaves one file set in `docs/` and one file per touched bucket in
    * `postings/`, so a long ingest fragments both. `docs/` compacts
    * through [[Maintenance.compact]]'s atomic tmp+swap (its rows feed
    * the BM25 length join, where duplicate rows would double-count —
    * the whole-dir swap has no duplicate window); `postings/` through
    * [[Maintenance.compactPartitioned]] (per-bucket two-rename swap —
    * posting rows are per-(doc, token) aggregates, so the brief
    * missing-partition window degrades a concurrent search's recall,
    * never its correctness, and single-writer maintenance scheduling
    * avoids even that). Returns (docs files, postings dirs rewritten).
    */
  def compactIndex(
      spark: SparkSession,
      indexPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): (Int, Int) = {
    // Index-root fence (r16): excludes a concurrent append for the
    // whole two-phase pass — the sub-compacts additionally hold their
    // own sub-path leases (different lease files, no conflict), which
    // is what a reader's heal gate checks.
    DurableRoot.textIndex(spark, indexPath, "TextIndex.compactIndex")
      .write(DurableRoot.adhocToken("tidx-compact")) {
      val nDocs = Maintenance.compact(spark, s"$indexPath/docs", targetFileBytes)
      val nPost = Maintenance.compactPartitioned(spark, s"$indexPath/postings", targetFileBytes)
      (nDocs, nPost)
    }
  }

  /** BM25-ranked top-`topK` documents for a bag-of-terms query. Reads
    * only the terms' posting buckets (partition pruning; term buckets
    * are computed driver-side — |terms| md5s, not a data scan). Term
    * scores accumulate in sorted-term order — a FIXED fold, never a
    * row-order-dependent double sum.
    */
  def search(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String],
      topK: Int = 10
  ): DataFrame = {
    require(terms.nonEmpty, "at least one term")
    // Reader-side entry healing (DurableRoot.textIndex): a crashed
    // docs compact leaves `docs/` renamed aside, so every search fails
    // on a missing path; a crashed postings compaction strands bucket
    // dirs, so searches silently LOSE their rows.
    DurableRoot.textIndex(spark, indexPath, "TextIndex.search").healForRead()
    val sorted = terms.distinct.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucketId(t: String): Long = {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16) % nBuckets
    }
    val buckets = sorted.map(bucketId).distinct
    val postingsRaw = Parquet.read(spark, s"$indexPath/postings")
    // Match the inferred partition-value type exactly (see VectorIndex:
    // a column-side cast would sit above the scan and defeat pruning).
    val typedBuckets: Seq[Any] = postingsRaw.schema("bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType => buckets.map(_.toInt)
      case org.apache.spark.sql.types.LongType    => buckets
      case _                                      => buckets.map(_.toString)
    }
    val postings = postingsRaw
      .filter(col("bucket").isin(typedBuckets: _*))
      .filter(col("token").isin(sorted: _*))
      .select("token", "doc_id", "tf")
    val docsT = Parquet.read(spark, s"$indexPath/docs")
    val stats = docsT.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfreq = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val wideAggs = sorted.zipWithIndex.map { case (t, i) =>
      max(when(col("token") === t, col("tf"))).as(s"tf_$i")
    }
    val wide = postings.groupBy(col("doc_id")).agg(wideAggs.head, wideAggs.tail: _*)
    val dfCols = sorted.zipWithIndex.map { case (t, i) =>
      first(when(col("token") === t, col("df")), ignoreNulls = true).as(s"df_$i")
    }
    val dfWide = dfreq.agg(dfCols.head, dfCols.tail: _*)
    val scored = wide
      .join(docsT, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(dfWide))
    val total = sorted.indices.foldLeft(lit(0.0)) { (acc, i) =>
      acc + when(
        col(s"tf_$i").isNotNull,
        graft.queries.TextQueries
          .bm25Score(col(s"tf_$i"), col(s"df_$i"), col("dl"), col("n_docs"), col("sum_dl"))
      ).otherwise(lit(0.0))
    }
    // orderBy+limit plans TakeOrderedAndProject — per-partition top-K
    // heaps merged on one reducer, never a full-corpus global sort (a
    // global row_number window would sort every scored doc on a single
    // partition; WindowGroupLimit only pre-prunes, the final sort
    // remains). Rank is then a window over the <=topK survivors only.
    val top = scored
      .withColumn("bm25", total)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
    val w = Window.orderBy(col("bm25").desc, col("doc_id").asc)
    top
      .withColumn("rank", row_number().over(w))
      .select("doc_id", "bm25", "rank")
  }
}
