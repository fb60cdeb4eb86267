package graft.schemas

import org.apache.spark.sql.types._

/** Read schemas for the two raw JSON inputs, declared explicitly so no
  * inference pass runs over the input (reference behavior:
  * `spark-jobs/sparkify_etl.py:33-43` and `:95-114`).
  *
  * Nullability flags in the reference are aspirational — Spark's file
  * sources read every field nullable — so we declare everything nullable
  * here and treat non-nullness as a data-quality assertion, not a schema
  * constraint (SURVEY §1.2, §7.4.7).
  */
object Schemas {

  /** Song catalog: one JSON object per file under song_data/ * / * / * /. */
  val songData: StructType = StructType(
    Seq(
      StructField("artist_id", StringType),
      StructField("artist_latitude", StringType),
      StructField("artist_longitude", StringType),
      StructField("artist_location", StringType),
      StructField("artist_name", StringType),
      StructField("song_id", StringType),
      StructField("title", StringType),
      StructField("duration", DoubleType),
      StructField("year", IntegerType)
    )
  )

  /** Event logs: line-delimited JSON under log_data/ * / * /.
    * `ts` is epoch **milliseconds as a double** — the engine converts it
    * to a second-truncated UTC timestamp natively (no UDF).
    */
  val logData: StructType = StructType(
    Seq(
      StructField("artist", StringType),
      StructField("auth", StringType),
      StructField("firstName", StringType),
      StructField("gender", StringType),
      StructField("itemInSession", IntegerType),
      StructField("lastName", StringType),
      StructField("length", DoubleType),
      StructField("level", StringType),
      StructField("location", StringType),
      StructField("method", StringType),
      StructField("page", StringType),
      StructField("registration", DoubleType),
      StructField("sessionId", IntegerType),
      StructField("song", StringType),
      StructField("status", IntegerType),
      StructField("ts", DoubleType),
      StructField("userAgent", StringType),
      StructField("userId", StringType)
    )
  )

  /** Embedding-ingest JSON shape (`{"vec_id": long, "embedding":
    * [double, ...]}`) — the streaming semantic-dedup source read by
    * `StreamingPipeline.semanticDedupIngest` and the
    * `--maintenance semantic_dedup_ingest` CLI verb.
    */
  val embeddingIngest: StructType = StructType(
    Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))
    )
  )

  /** Document-ingest JSON shape (`{"doc_id": long, "text": string}`) —
    * the streaming span-dedup source read by
    * `StreamingPipeline.spanDedupIngest` and the
    * `--maintenance span_dedup_ingest` CLI verb.
    */
  val documentIngest: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)
    )
  )

  /** [[documentIngest]] plus the domain column the stratified packing
    * stream keys its per-domain offset state by.
    */
  val documentIngestBy: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("text", StringType)
    )
  )

  /** Turn-batch JSON shape (`{"conv_id", "turn_id", "parent_id"}`, all
    * long) — the `turns_stream` / `turns_backfill` source folded into
    * the tree-membership state.
    */
  val turnBatch: StructType = StructType(
    Seq(
      StructField("conv_id", LongType),
      StructField("turn_id", LongType),
      StructField("parent_id", LongType)
    )
  )

  /** Scored-response JSON shape (`{"prompt_id", "doc_id", "score"}`,
    * all long) — the `pref_stream` source folded into the pair state.
    */
  val prefResponses: StructType = StructType(
    Seq(
      StructField("prompt_id", LongType),
      StructField("doc_id", LongType),
      StructField("score", LongType)
    )
  )

  /** Per-policy scored-response JSON shape (`{"prompt_id": long,
    * "policy": string, "score": long}`) — the `win_stream` source folded
    * into the arena board state.
    */
  val winResponses: StructType = StructType(
    Seq(
      StructField("prompt_id", LongType),
      StructField("policy", StringType),
      StructField("score", LongType)
    )
  )
}
