package graft

import graft.functions.GraftFunctions
import graft.operators.Maintenance
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The bloom probe's contract: zero false negatives against the filter
  * it was built from (string and long keys), a plausible false-positive
  * rate, and — the consumer guarantee — the bloom-pre-filtered
  * incremental dedup accepts EXACTLY the same rows as the exact path.
  */
class BloomSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-bloom-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("no false negatives on string keys; absent keys mostly rejected") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => s"key_$i")
    val df = keys.toDF("k")
    val bf = df.stat.bloomFilter("k", 2000, 0.01)
    val probed = df.withColumn("hit", GraftFunctions.graft_bloom_contains(col("k"), bf))
    assert(probed.filter(!col("hit")).count() == 0, "an inserted key can never miss")
    val absent = (0 until 2000).map(i => s"other_$i").toDF("k")
    val fp = absent.withColumn("hit", GraftFunctions.graft_bloom_contains(col("k"), bf))
      .filter(col("hit")).count()
    assert(fp < 200, s"false-positive rate far above fpp: $fp/2000")
  }

  test("no false negatives on long keys") {
    import spark.implicits._
    val df = (0L until 5000L).toDF("k")
    val bf = df.stat.bloomFilter("k", 5000, 0.01)
    val misses = df
      .withColumn("hit", GraftFunctions.graft_bloom_contains(col("k"), bf))
      .filter(!col("hit"))
      .count()
    assert(misses == 0)
  }

  test("bloom-pre-filtered incremental dedup accepts exactly the exact-path rows") {
    import spark.implicits._
    // batch 1: texts 0..299; batch 2 (ids 300..599): texts 300..449 are
    // genuinely new, 450..599 wrap to 0..149 — cross-batch dups.
    val docs = (0 until 600).map(i => (i.toLong, s"text ${i % 450}"))
    def run(fpp: Double): Set[Long] = {
      val index = Files.createTempDirectory("graft-bloom-dedup").toString + "/index.parquet"
      val batch1 = docs.take(300).toDF("doc_id", "text")
      val batch2 = docs.drop(300).toDF("doc_id", "text")
      Maintenance.incrementalDedup(spark, batch1, "doc_id", "text", index, fpp)
        .count() // materialize so the index is written before batch 2
      Maintenance
        .incrementalDedup(spark, batch2, "doc_id", "text", index, fpp)
        .select("doc_id")
        .collect()
        .map(_.getLong(0))
        .toSet
    }
    val exact = run(0.0)
    val bloomed = run(0.01)
    assert(bloomed == exact, "bloom path must be semantics-preserving")
    assert(exact.nonEmpty, "fixture should accept some fresh rows in batch 2")
  }

  test("bloom path keeps null-text rows exactly like the exact path") {
    import spark.implicits._
    // null text → null hash → null probe; the split must route the row
    // to the exact join (which keeps it), not drop it from both branches.
    val batch1 = Seq((1L, "seen text")).toDF("doc_id", "text")
    val batch2 = Seq((2L, "seen text"), (3L, null.asInstanceOf[String]), (4L, "new text"))
      .toDF("doc_id", "text")
    def run(fpp: Double): Set[Long] = {
      val index = Files.createTempDirectory("graft-bloom-null").toString + "/index.parquet"
      Maintenance.incrementalDedup(spark, batch1, "doc_id", "text", index, fpp).count()
      Maintenance
        .incrementalDedup(spark, batch2, "doc_id", "text", index, fpp)
        .select("doc_id")
        .collect()
        .map(_.getLong(0))
        .toSet
    }
    val exact = run(0.0)
    assert(exact.contains(3L), "exact path keeps the null-text row")
    assert(run(0.01) == exact, "bloom path must agree, including the null-text row")
  }
}
