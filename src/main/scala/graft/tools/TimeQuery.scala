package graft.tools

import graft.SparkEntry

/** Time individual queries (iteration aid — Bench is the graded path).
  * Usage: runMain graft.tools.TimeQuery <sfDir> <q1,q2,...> [reps]
  * Evicts the feature memo before every rep, like Bench.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSet).getOrElse(Set.empty[String])
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local("graft-time-query")
    val qs = SparkEntry.queries.filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // warmup (JIT/codegen) at the smallest sf, like Bench
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[warmup] $name: ${e.getMessage}") }
      val times = (1 to reps).map { _ =>
        graft.queries.TextQueries.clearFeatureMemo()
        // same rep-isolation discipline as Bench: drop pins the
        // previous rep's operators localCheckpoint'd — BLOCKING, so
        // the removal work never lands inside the timed window
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIME $name reps=${times.map(t => f"$t%.3f").mkString(",")} min=${times.min}%.3f")
    }
    spark.stop()
  }
}
