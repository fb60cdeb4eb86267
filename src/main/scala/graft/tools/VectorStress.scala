package graft.tools

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale-up for the vector family (SCALE.md) — the embedding
  * twin of [[StressCorpus]]: every source vector replicated `reps`
  * times with deterministic md5-derived per-component noise (±0.25,
  * ~cos 0.96 to the source — the re-crawled-corpus regime ingest dedup
  * exists for; rep 0 is the identity). Centroids follow the √N rule
  * (K = ⌊√N⌋-stride id rule), so cluster occupancy grows as √N — the
  * honest IVF scaling regime where BOTH the centroid broadcast and the
  * per-probe candidate set grow as √N rather than N.
  *
  * Phases timed: corpus materialization (untimed generation barrier),
  * index build, 50-query probes at nProbe 1 and 4, cluster-stats
  * histogram, and one 1×-slice semantic-dedup ingest batch at
  * minCos 0.35 against the full index.
  *
  * Usage: runMain graft.tools.VectorStress <srcSfDir> <outDir> [reps]
  */
object VectorStress {
  def main(args: Array[String]): Unit = {
    val Array(src, out, rest @ _*) = args
    val reps = rest.headOption.map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession.local("graft-vector-stress")
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[vstress] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val srcEmb = Parquet.read(spark, s"$src/embeddings.parquet")
    // New ids are old*(reps+1)+rep, so the ingest slice (rep = reps)
    // never collides with the corpus (reps 0..reps-1).
    def replicate(repFrom: Int, repTo: Int): DataFrame =
      srcEmb
        .crossJoin(spark.range(repFrom, repTo).toDF("rep"))
        .select(
          (col("vec_id") * (reps + 1) + col("rep")).as("vec_id"),
          col("rep"),
          col("embedding").cast("array<double>").as("e0"),
          col("label")
        )
        .select(
          col("vec_id"),
          when(col("rep") === 0, col("e0"))
            .otherwise(
              transform(
                col("e0"),
                (x, i) =>
                  x + (pmod(
                    conv(substring(md5(concat_ws("_", col("vec_id"), i)), 1, 7), 16, 10).cast("long"),
                    lit(1001L)
                  ) - 500L).cast("double") / lit(2000.0)
              )
            )
            .as("emb"),
          col("label")
        )
    // Materialize the corpus so generation cost never pollutes the
    // build timing, and the build reads a durable source (the 100 TB
    // shape).
    replicate(0, reps).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val corpus = Parquet.read(spark, s"$out/embeddings.parquet")
    val n = corpus.count()
    val stride = math.max(1L, math.sqrt(n.toDouble).toLong)
    println(s"[vstress] corpus $n vectors, centroid stride $stride (~${n / stride} clusters)")
    val idx = s"$out/ivf"
    time("build")(
      graft.operators.VectorIndex.build(spark, corpus, idx, pmod(col("vec_id"), lit(stride)) === 0)
    )
    val qstep = math.max(1L, n / 50)
    val queries = corpus.filter(pmod(col("vec_id"), lit(qstep)) === 0)
    val nq = queries.count()
    val r1 = time(s"probe $nq queries nProbe=1")(
      graft.operators.VectorIndex.query(spark, queries, idx, topK = 10, nProbe = 1).count()
    )
    val r4 = time(s"probe $nq queries nProbe=4")(
      graft.operators.VectorIndex.query(spark, queries, idx, topK = 10, nProbe = 4).count()
    )
    println(s"[vstress] probe rows: nProbe=1 -> $r1, nProbe=4 -> $r4")
    time("clusterStats") {
      val s = graft.operators.VectorIndex
        .clusterStats(spark, idx)
        .agg(max("n"), expr("percentile_approx(n, 0.5)"), count(lit(1)))
        .collect()(0)
      println(s"[vstress] clusters=${s.getLong(2)} max=${s.getLong(0)} median~${s.getLong(1)}")
    }
    val batch = replicate(reps, reps + 1).select(col("vec_id"), col("emb"))
    val accepted = time("semantic dedup ingest (1x slice, minCos 0.35)")(
      graft.streaming.StreamingPipeline
        .semanticDedupIngestBatch(spark, batch, idx, s"$out/drops", 0L, minCos = 0.35)
    )
    println(s"[vstress] ingest batch ${batch.count()} rows -> accepted $accepted")
    spark.stop()
  }
}
