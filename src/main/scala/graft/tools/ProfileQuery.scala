package graft.tools

import graft.SparkEntry

/** Per-job profile of any declared query (iteration aid, not a graded
  * path): runs the query with a listener printing each job's duration
  * and the first graft call-site frame, so "where do this row's N
  * seconds go" has a measured answer per job, not per rep.
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <q1,q2,...>
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSet).getOrElse(Set.empty[String])
    val spark = graft.GraftSession.local("graft-profile-query")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (record) {
          val site = js.stageInfos.lastOption
            .map(_.details.linesIterator.toSeq)
            .getOrElse(Seq.empty)
            .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
            .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse("?"))
          // setJobDescription labels (guide §1.5) beat the call-site
          // frame — AQE stage jobs all surface as an anonymous
          // CompletableFuture frame otherwise.
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
          jobStart.put(js.jobId, (System.nanoTime(), desc.map(d => s"[$d] $site").getOrElse(site)))
          ()
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStart.remove(je.jobId)).foreach { case (t0, site) =>
          println(f"  JOB ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $site")
        }
    })
    val qs = SparkEntry.queries.filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[warmup] $name: ${e.getMessage}") }
      graft.queries.TextQueries.clearFeatureMemo()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      println(s"=== $name")
      record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(100)
      println(f"=== $name total ${dt}%.2f s")
    }
    spark.stop()
  }
}
