package graft.queries

import graft.multimodal.Multimodal
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the multimodal pipeline (payloads built
  * from document text bytes — see [[graft.multimodal.Multimodal]]).
  */
object MultimodalQueries {

  private def assets(spark: SparkSession, dir: String): DataFrame =
    Multimodal.assetsFromDocuments(Parquet.read(spark, s"$dir/documents.parquet"))

  /** Decode + frame-sample: per-asset metadata with the sampled frame
    * count (explode → count back — exercises the lateral view).
    */
  def q27MultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val dec = Multimodal.decode(assets(spark, dir))
    val sampled = Multimodal
      .sampleFrames(dec, step = 10)
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_sampled"))
    dec
      .join(sampled, Seq("asset_id"), "left")
      .select(
        col("asset_id"),
        col("media_type"),
        col("byte_len"),
        col("content_md5"),
        col("width"),
        col("height"),
        col("n_frames"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled")
      )
  }

  /** Byte-window patch fingerprints over the binary payload column —
    * REAL distributed byte-level ops (binary substring + md5), not the
    * decode stub: the chunk/dedup primitive for opaque media blobs
    * (content-defined patches would swap the fixed offsets for a
    * rolling-hash cut, same plumbing). Pure projection, zero shuffle.
    *
    * The oracle slices VARCHAR (DuckDB cannot slice BLOBs), which
    * matches byte offsets only for ASCII payloads — `ascii_ok` asserts
    * that precondition in-band (oracle expects literal TRUE), so a
    * future non-ASCII corpus fails loudly instead of silently.
    */
  def q67MultimodalPatches(spark: SparkSession, dir: String): DataFrame = {
    val d = Parquet.read(spark, s"$dir/documents.parquet")
    val payload = encode(col("text"), "UTF-8")
    d.select(
      col("doc_id"),
      length(payload).as("byte_len"),
      md5(substring(payload, 1, 64)).as("patch0_md5"),
      md5(substring(payload, 65, 64)).as("patch1_md5"),
      md5(substring(payload, 129, 64)).as("patch2_md5"),
      (length(payload) === length(col("text"))).as("ascii_ok")
    )
  }

  /** End-to-end multimodal curation — the q86 composition for opaque
    * media blobs: decode (stub codec) → quality gate on decoded
    * dimensions and payload size → exact dedup on the leading byte
    * patch fingerprint (min-asset_id representative, q17's rule) →
    * per-media-type report. One scan feeds every stage (decode keeps
    * the payload, so the patch hash rides the same projection); the
    * only shuffles are the fingerprint groupBy and three tiny keyed
    * counts. Dedup is cross-media-type on purpose: a shared byte
    * prefix is the same leading content whatever the container says.
    */
  def q90MultimodalCuration(spark: SparkSession, dir: String): DataFrame = {
    val dec = Multimodal
      .decode(assets(spark, dir))
      .withColumn("patch0_md5", md5(substring(col("payload"), 1, 64)))
    // Same VARCHAR-slice-vs-byte-slice dependence as q67: the oracle
    // slices text characters, Spark slices payload bytes — identical
    // only for ASCII. Carry the precondition in-band (q67's rule) so a
    // non-ASCII corpus fails on an explicit flag, not a hash mismatch.
    val asciiOk = Parquet.read(spark, s"$dir/documents.parquet")
      .agg(
        bool_and(
          length(encode(col("text"), "UTF-8")) === length(col("text"))
        ).as("ascii_ok")
      )
    val survivors = dec.filter(
      col("width") >= 32 && col("height") >= 32 && col("byte_len") >= 200
    )
    val keepers = survivors
      .groupBy(col("patch0_md5"))
      .agg(
        min_by(col("media_type"), col("asset_id")).as("ktype"),
        min_by(col("byte_len"), col("asset_id")).as("kbytes")
      )
    val total = dec.groupBy(col("media_type")).agg(count(lit(1)).as("n_total"))
    val quality = survivors.groupBy(col("media_type")).agg(count(lit(1)).as("n_quality"))
    val kept = keepers
      .groupBy(col("ktype").as("media_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("kbytes")).as("kept_bytes"))
    total
      .join(quality, Seq("media_type"), "left")
      .join(kept, Seq("media_type"), "left")
      .crossJoin(broadcast(asciiOk))
      .select(
        col("media_type"),
        col("n_total"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_bytes"), lit(0L)).as("kept_bytes"),
        col("ascii_ok")
      )
  }

  /** Feature extraction + resize over the decoded assets. */
  def q28MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val dec = Multimodal.resize(Multimodal.features(Multimodal.decode(assets(spark, dir))))
    dec.select(
      col("asset_id"),
      col("width"),
      col("height"),
      element_at(col("feature"), 1).as("f0"),
      element_at(col("feature"), 2).as("f1"),
      element_at(col("feature"), 3).as("f2"),
      element_at(col("feature"), 4).as("f3")
    )
  }
}
