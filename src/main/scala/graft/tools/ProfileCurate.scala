package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level profile of q108/q105's composition chains (iteration
  * aid, not a graded path): replays each chain with per-stage timers
  * and a driver-action counter, so "fuse the fixed floor" work has a
  * measured target instead of a guess.
  */
object ProfileCurate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-profile-curate")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val verbose = sys.env.contains("PROF_VERBOSE")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val site = js.stageInfos.lastOption.map(_.details.linesIterator.toSeq).getOrElse(Seq.empty)
            .find(l => l.contains("graft.") && !l.contains("ProfileCurate"))
            .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
          jobStart.put(js.jobId, (System.nanoTime(), site))
        }
        ()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        if (verbose) Option(jobStart.remove(je.jobId)).foreach { case (t0, site) =>
          println(f"  JOB ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $site")
        }
        ()
      }
    })
    def timed[T](label: String)(body: => T): T = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROF $label%-28s ${dt}%7.2f s  jobs=${jobs.get() - j0}")
      r
    }
    // warmup
    graft.queries.TextQueries.q108CurateSteadyState(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    graft.queries.TextQueries.clearFeatureMemo()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val d = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-prof108")
    try {
      val model = root.resolve("lm").toString
      val spans = root.resolve("spans").toString
      val index = root.resolve("index").toString
      val out = root.resolve("out").toString
      val evens = d.filter(col("doc_id") % 2 === 0)
      val odds = d.filter(col("doc_id") % 2 === 1)
      timed("q108.build")(graft.operators.QualityModel.build(spark, evens, "doc_id", "text", model))
      timed("q108.curate0")(graft.pipeline.Pipeline
        .curateIngest(spark, evens, model, spans, index, out, 0L, spanStateBuckets = 8))
      timed("q108.curate1")(graft.pipeline.Pipeline
        .curateIngest(spark, odds, model, spans, index, out, 1L, spanStateBuckets = 8))
      timed("q108.readback")(
        spark.read.parquet(s"$out/ingest_batch=1").select(col("doc_id"), col("text")).collect())
      // now the inside of one curateIngest, stage by stage, on a fresh scratch
      val root2 = java.nio.file.Files.createTempDirectory("graft-prof108b")
      val spans2 = root2.resolve("spans").toString
      val index2 = root2.resolve("index").toString
      val out2 = root2.resolve("out").toString
      graft.operators.Maintenance.releasingScratchPins(spark) {
        val settled = timed("ci.settle")(evens.localCheckpoint())
        timed("ci.count")(settled.count())
        val ext = timed("ci.spans")(graft.operators.Maintenance
          .incrementalDupSpans(spark, settled, "doc_id", "text", spans2, Some(0L), stateBuckets = 8))
        val keep = graft.operators.QualityModel
          .gate(spark, settled, "doc_id", "text", model)
          .filter(col("keep_doc"))
          .select(col("doc_id"))
        val gated = timed("ci.gate+pin")(settled.join(keep, Seq("doc_id"), "left_semi").localCheckpoint())
        val cleaned = graft.operators.Dedup
          .spanClean(gated, "doc_id", "text", ext)
          .filter(length(trim(col("clean_text"))) > 0 &&
            size(split(trim(col("clean_text")), "\\s+")) >= 1)
        val docsOut = gated
          .drop("text")
          .join(cleaned.select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
        timed("ci.dedupIngest")(graft.streaming.StreamingPipeline
          .dedupIngestBatch(spark, docsOut, out2, index2, 0L))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(root2.toFile)

      // q105 breakdown
      graft.queries.TextQueries.clearFeatureMemo()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val root3 = java.nio.file.Files.createTempDirectory("graft-prof105")
      val spans3 = root3.resolve("spans").toString
      timed("q105.ingest0")(graft.operators.Maintenance
        .incrementalDupSpans(spark, d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          spans3, Some(0L), stateBuckets = 8).collect())
      timed("q105.ingest1")(graft.operators.Maintenance
        .incrementalDupSpans(spark, d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          spans3, Some(1L), stateBuckets = 8).collect())
      org.apache.commons.io.FileUtils.deleteDirectory(root3.toFile)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    spark.stop()
  }
}
