package graft.operators

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental NEAR-duplicate detection: a corpus-wide MinHash index
  * maintained on parquet, so each ingest batch probes for near-dups
  * against everything ever accepted WITHOUT recomputing the corpus —
  * the cross-snapshot twin of [[Maintenance.incrementalDedup]] (which
  * is exact-hash only).
  *
  * State = one (doc_id, sig) row per indexed document: the 16-minima
  * MinHash signature (the same `graft_minhash` family as the q22 LSH
  * query), NOT the shingle sets — signatures are a fixed 128 bytes per
  * doc at any document size. Candidates come from banded-LSH key
  * equality (4 bands × 4 rows, band keys recomputed from signatures on
  * both sides — never stored), and verification is the standard
  * unbiased MinHash estimate: the fraction of agreeing signature
  * components. Every step is a keyed join or projection; batch×corpus
  * work is bounded by band collisions, exactly as in the one-shot q22.
  */
object NearDupIndex {

  private val nHashes = 16
  private val bandRows = 4

  /** (doc_id, sig) from raw documents (id + text columns). */
  def signatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = graft.queries.TextQueries
      .withShingles(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    sh.select(
      col("doc_id"),
      graft.functions.GraftFunctions.graft_minhash(col("sh_ints"), nHashes).as("sig")
    )
  }

  /** Banded LSH keys recomputed from a signature table. */
  private def bands(sigs: DataFrame): DataFrame =
    sigs
      .select(
        col("doc_id"),
        col("sig"),
        explode(
          transform(
            sequence(lit(0), lit(nHashes / bandRows - 1)),
            b =>
              struct(
                b.as("band"),
                array_join(
                  transform(slice(col("sig"), b * bandRows + 1, lit(bandRows)), x => x.cast("string")),
                  "_"
                ).as("band_key")
              )
          )
        ).as("bk")
      )
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.band_key"))

  /** Near-dup pairs between two signature tables via band collision +
    * signature-agreement estimate ≥ `threshold`. `a.doc_id < b.doc_id`
    * is NOT imposed (callers pass disjoint sides); exact-id pairs are
    * excluded.
    *
    * The `a` side (the probing BATCH — callers pass the small side
    * first) is pinned to broadcast: the collision join then STREAMS
    * the `b` side (the corpus index) map-side instead of shuffling
    * 4×|index| exploded band rows per batch. One full index scan per
    * batch is the probe's irreducible keyed-join cost (the span-state
    * posture — embarrassingly parallel, amortized by batching up);
    * an index SHUFFLE per batch is not, and without the pin AQE's
    * size estimate after a localCheckpoint is free to pick
    * sort-merge. Batch band rows are 4/doc at ~144 B — a 1M-doc
    * batch broadcasts ~0.6 GB, the executor-memory ceiling that sizes
    * ingest batches.
    */
  private[graft] def pairsBetween(a: DataFrame, b: DataFrame, threshold: Double): DataFrame = {
    val ab = bands(a).select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"), col("band_key"))
    val bb = bands(b).select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("band"), col("band_key"))
    broadcast(ab)
      .join(bb, Seq("band", "band_key"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .distinct()
      .withColumn(
        "est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / nHashes
      )
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Probe a batch against the index (and itself), then add the batch's
    * signatures to the index. Returns near-dup pairs with `doc_a` from
    * the batch and `doc_b` from the corpus-so-far-or-batch
    * (batch-internal pairs keep `doc_a < doc_b`).
    *
    * Idempotent on the INDEX: signatures are anti-joined against the
    * already-indexed doc_ids before the append, so a retried/replayed
    * batch cannot double-append — without this, every future probe
    * would emit duplicate band collisions against the doubled rows. A
    * re-indexed doc keeps its original signature (ids are assumed to
    * name immutable documents). The anti-join probes one short column
    * of the index — the same cost class as the probe join itself.
    *
    * The index SELF-COMPACTS like the exact-dedup one: each batch
    * appends a bounded number of size-targeted files (never
    * shuffle-partition-many — a long crawl would otherwise leave one
    * file SET per batch and every probe would pay the footer fan-out),
    * and past `maxIndexFiles` files [[Maintenance.tierIndexFiles]]'s
    * size-tiered merge runs (settled files never rewritten until their
    * smaller peers rival them — amortized per-batch write independent
    * of crawl age). Duplicate rows across files during a compaction
    * crash window are harmless here too: [[pairsBetween]] distincts
    * the collision pairs before estimating, and the append's anti-join
    * is membership-only. Set `maxIndexFiles = 0` to disable.
    */
  def update(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxIndexFiles: Int = 64,
      appliedId: Option[Long] = None
  ): DataFrame = {
    val root = DurableRoot.leaseOnly(spark, indexPath, "NearDupIndex.update")
    // Single-writer fence (r16), same contract as incrementalDedup:
    // two concurrent updates sharing a doc_id both pass the
    // idempotence anti-join and double-index the signature, and two
    // concurrent tier compactions delete victims under each other's
    // reads. appliedId (the streaming arm passes its batch id) keys a
    // deterministic token so a crashed batch's automatic replay
    // re-enters its own stale lease; id-less single shots get a
    // unique adhoc token (crash runbook: lease_break + re-run — the
    // anti-join makes the re-run idempotent).
    root.write(DurableRoot.leaseToken(appliedId)) {
    val sigs = signatures(batch, idCol, textCol).localCheckpoint()
    val indexExists = root.fs.exists(new org.apache.hadoop.fs.Path(indexPath))
    val inBatch = pairsBetween(sigs, sigs, threshold).filter(col("doc_a") < col("doc_b"))
    val out =
      if (indexExists)
        pairsBetween(sigs, Parquet.read(spark, indexPath), threshold).unionByName(inBatch)
      else inBatch
    val settled = out.localCheckpoint() // settle BEFORE the index grows
    val toAppend =
      if (indexExists)
        sigs.join(Parquet.read(spark, indexPath).select("doc_id"), Seq("doc_id"), "left_anti")
      else sigs
    // ~136 B per (doc_id, 16-minima sig) row → one file per ~1M rows,
    // sized from the already-settled signature count (an upper bound
    // on the appended rows — the anti-join only shrinks it).
    val nSigs = sigs.count()
    toAppend
      .coalesce(math.max(1L, nSigs / 1000000L).toInt)
      .write
      .mode("append")
      .parquet(indexPath)
    if (maxIndexFiles > 0) Maintenance.tierIndexFiles(spark, indexPath, maxIndexFiles)
    settled
    } // root.write
  }
}
