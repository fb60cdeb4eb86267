package graft.tools

import graft.sources.Parquet

import org.apache.spark.sql.functions._

/** Builds the stress corpus behind SCALE.md's measured-scale-up
  * numbers: every document replicated `reps` times with rep-prefixed
  * tokens, so corpus VOLUME grows ×reps while duplicate DENSITY stays
  * constant — the honest scaling regime for dedup/near-dup operators
  * (plain replication would instead grow candidate-pair volume
  * quadratically, benchmarking a 95 %-duplicate corpus nobody curates).
  *
  * Scope: the token rewrite targets HASH-based operators (dedup,
  * near-dup, spans, winnowing, fingerprints) — their per-shingle df
  * and candidate structure scale honestly. It deliberately breaks
  * token-IDENTITY-based stages (stopword/quality rules): every token
  * is novel, so a Gopher-style gate rejects everything and an
  * end-to-end curation "measurement" on this corpus would be
  * meaningless. Don't use it for those.
  *
  * Usage: runMain graft.tools.StressCorpus <srcSfDir> <outDir> [reps]
  * Then e.g.: runMain graft.Verify <outDir> /tmp/vout_stress \
  *   q17_dedup_exact,q21_ngram_jaccard,q22_minhash_lsh,...
  */
object StressCorpus {
  def main(args: Array[String]): Unit = {
    val Array(src, out, rest @ _*) = args
    val reps = rest.headOption.map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession.local("graft-stress-corpus")
    val docs = Parquet.read(spark, s"$src/documents.parquet")
    docs
      .crossJoin(spark.range(0, reps).toDF("rep"))
      .select(
        (col("doc_id") * reps + col("rep")).as("doc_id"),
        array_join(
          transform(
            split(col("text"), "\\s+"),
            t => concat(col("rep").cast("string"), lit("_"), t)
          ),
          " "
        ).as("text"),
        col("lang"),
        col("source")
      )
      // n_chars must describe the REWRITTEN text, or every
      // length-dependent gate in the stress run exercises the wrong
      // selectivity.
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write
      .mode("overwrite")
      .parquet(s"$out/documents.parquet")
    println(s"[stress] wrote ${Parquet.read(spark, s"$out/documents.parquet").count()} docs to $out")
    spark.stop()
  }
}
