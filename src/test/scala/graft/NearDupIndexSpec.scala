package graft

import graft.operators.NearDupIndex
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental near-dup index: batch-internal pairs on first contact,
  * cross-snapshot pairs on later batches, no false flags on unrelated
  * text, and fixed-size signature state.
  */
class NearDupIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-neardup-index-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val base =
    "the quick brown fox jumps over the lazy dog while seventeen astronauts " +
      "carefully measure gravitational anomalies near the southern observatory plateau"
  private val variant = base.replace("lazy", "sleepy") // near-dup of base
  private val other =
    "completely unrelated text about parquet footers bloom filters and the " +
      "gentle art of distributed systems debugging at four in the morning exactly"

  test("cross-snapshot and in-batch near-dups detected; unrelated text not flagged") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-neardup-index").toString + "/sigs.parquet"

    val r1 = NearDupIndex
      .update(spark, Seq((1L, base), (2L, other)).toDF("doc_id", "text"), index)
      .collect()
    assert(r1.isEmpty, "batch 1 holds no near-dups")

    val r2 = NearDupIndex
      .update(spark, Seq((3L, variant), (4L, variant + " postscript"), (5L, "tiny new thing entirely"))
        .toDF("doc_id", "text"), index)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = r2.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((3L, 1L)), s"variant must hit the indexed base doc, got ${pairs.mkString(",")}")
    assert(pairs.contains((3L, 4L)), "the two in-batch variants must pair with each other")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "unrelated text must not be flagged")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "indexed unrelated text must not be flagged")
    r2.foreach { case (_, _, est) => assert(est >= 0.5 && est <= 1.0) }

    // state is one signature row per doc ever seen
    assert(spark.read.parquet(index).count() == 5L)
  }

  test("a replayed batch does not double-append signatures to the index") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-neardup-replay").toString + "/sigs.parquet"
    val batch = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    NearDupIndex.update(spark, batch, index).collect()
    NearDupIndex.update(spark, batch, index).collect() // retry/replay
    val rows = spark.read.parquet(index).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L), s"index must hold one row per doc, got $rows")
    // A later probe sees each indexed doc once — one collision per pair.
    val r = NearDupIndex
      .update(spark, Seq((3L, variant)).toDF("doc_id", "text"), index)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((3L, 1L)), s"exactly one pair expected, got ${r.mkString(",")}")
  }

  test("update is fenced: foreign lease refuses; a batch-id replay re-enters its own lease") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-neardup-lease").toString + "/sigs.parquet"
    val batch = Seq((1L, base)).toDF("doc_id", "text")
    NearDupIndex.update(spark, batch, index).collect()
    assert(!new java.io.File(index + ".__writer").exists(), "lease released after update")
    // live foreign lease: refused (two concurrent updates sharing a
    // doc_id would both pass the anti-join and double-index it)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(index + ".__writer"),
      graft.operators.DurableRoot.leaseBody("adhoc:neardup:someone"))
    val e = intercept[IllegalArgumentException](NearDupIndex.update(spark, batch, index))
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(index + ".__writer"))
    // streaming-arm contract: appliedId keys the token, so a crashed
    // batch's replay re-enters the stale lease it left behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(index + ".__writer"),
      graft.operators.DurableRoot.leaseBody("fold:4"))
    NearDupIndex.update(spark, batch, index, appliedId = Some(4L)).collect()
    assert(!new java.io.File(index + ".__writer").exists())
    assert(spark.read.parquet(index).count() == 1L, "replay stays idempotent under the lease")
  }

  test("signature index self-compacts size-tiered; probes stay exact across tiers") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-neardup-tier").toString + "/sigs.parquet"
    def files: Int =
      new java.io.File(index).listFiles().count(_.getName.endsWith(".parquet"))
    // A long trickle of unrelated singleton batches: without tiering
    // the index keeps one file per batch forever.
    (0 to 9).foreach { i =>
      val doc = s"entirely distinct document number $i about topic${i}a topic${i}b " +
        s"topic${i}c topic${i}d topic${i}e topic${i}f topic${i}g topic${i}h topic${i}i"
      NearDupIndex.update(
        spark, Seq((100L + i, doc)).toDF("doc_id", "text"), index, maxIndexFiles = 4
      )
    }
    assert(files <= 5, s"signature files must stay near the threshold, got $files")
    assert(
      spark.read.parquet(index).count() == 10L,
      "one signature row per doc across tiers"
    )
    // Probe across the merged tiers: an exact re-send of an early doc
    // (its signature now lives in a merged file) must still pair with
    // it — identical shingles make every band collide deterministically.
    val probeText = "entirely distinct document number 3 about topic3a topic3b " +
      "topic3c topic3d topic3e topic3f topic3g topic3h topic3i"
    val pairs = NearDupIndex
      .update(spark, Seq((900L, probeText)).toDF("doc_id", "text"), index, maxIndexFiles = 4)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    assert(pairs == Set((900L -> 103L)), s"tiered index must still answer probes exactly: $pairs")
  }

  test("probe plan broadcasts the batch side — the index is scanned, never shuffled") {
    import spark.implicits._
    val index = Files.createTempDirectory("graft-neardup-plan").toString + "/sigs.parquet"
    NearDupIndex.update(spark, Seq((1L, base), (2L, other)).toDF("doc_id", "text"), index)
    val probe = NearDupIndex.signatures(Seq((3L, variant)).toDF("doc_id", "text"))
    val pairs = NearDupIndex.pairsBetween(probe, spark.read.parquet(index), 0.5)
    // Unwrap AQE: AdaptiveSparkPlanExec prints its inner plan but does
    // not expose it to collect() until execution finalizes it.
    val phys = pairs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val plan = phys.toString
    val joins = phys.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, s"collision join must broadcast the batch side:\n$plan")
    // The streamed (index) side must reach the join without a shuffle.
    joins.foreach { j =>
      val streamed =
        if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) j.right else j.left
      assert(
        streamed
          .find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
          .isEmpty,
        s"index side must stream without an Exchange:\n$plan"
      )
    }
  }
}
