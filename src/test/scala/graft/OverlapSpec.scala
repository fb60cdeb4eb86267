package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.operators.Overlap
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver-thread overlap helper's contract: the async sibling is
  * always joined before the call returns or rethrows, its error
  * surfaces only after the sync sibling completes, and it runs under
  * the caller's Spark local properties.
  */
class OverlapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-overlap-test", "local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  test("a failing sync sibling rethrows only after the async write has finished") {
    import spark.implicits._
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("graft-overlap-").toString + "/async"
    val err = intercept[IllegalStateException] {
      Overlap.both {
        sc.parallelize(0 until 4, 4)
          .map { i => Thread.sleep(300); i }
          .toDF("i")
          .write
          .parquet(out)
      } { _ =>
        // throw while the async sibling's job is still running
        waitFor("the async job to start")(sc.statusTracker.getActiveJobIds.nonEmpty)
        throw new IllegalStateException("sync failed")
      }
    }
    assert(err.getMessage == "sync failed")
    assert(new java.io.File(out, "_SUCCESS").exists(), "the async write must have committed")
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "no overlapped job may outlive the call")
    assert(spark.read.parquet(out).count() == 4)
  }

  test("a failing async sibling surfaces after the sync sibling completes") {
    val asyncFailed = new CountDownLatch(1)
    val syncDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Overlap.both[Unit, Unit] {
        asyncFailed.countDown()
        throw new IllegalStateException("async failed")
      } { _ =>
        assert(asyncFailed.await(60, TimeUnit.SECONDS))
        assert(spark.range(0, 100, 1, 2).count() == 100)
        syncDone.set(true)
      }
    }
    assert(err.getMessage == "async failed")
    assert(syncDone.get, "the sync sibling must run to completion first")
  }

  test("when both siblings fail, the sync error carries the async one as suppressed") {
    val err = intercept[IllegalStateException] {
      Overlap.both[Unit, Unit](throw new IllegalArgumentException("async failed")) { _ =>
        throw new IllegalStateException("sync failed")
      }
    }
    assert(err.getMessage == "sync failed")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("async failed"))
  }

  test("a mid-body await waits for the async sibling without rethrowing its error") {
    val finished = new AtomicBoolean(false)
    var seenAfterAwait = false
    val err = intercept[IllegalStateException] {
      Overlap.both[Unit, Unit] {
        Thread.sleep(200)
        finished.set(true)
        throw new IllegalStateException("async failed")
      } { sibling =>
        sibling.await()
        seenAfterAwait = finished.get
      }
    }
    assert(seenAfterAwait, "await must return only once the sibling has finished")
    assert(err.getMessage == "async failed", "the sibling's error surfaces when the overlap ends")
  }

  test("the async sibling runs under the caller's job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("overlap spec: caller label")
    try {
      val (seen, _) = Overlap.both(sc.getLocalProperty("spark.job.description"))(_ => ())
      assert(seen == "overlap spec: caller label")
    } finally sc.setJobDescription(null)
    // and nothing leaks back: a later call sees the caller's current state
    val (after, _) = Overlap.both(Option(sc.getLocalProperty("spark.job.description")))(_ => ())
    assert(after.isEmpty)
  }
}
