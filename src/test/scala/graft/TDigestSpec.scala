package graft

import graft.functions.{GraftFunctions, TDigest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TDigestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-tdigest-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("single-pass digest tracks exact quantiles within 1% of rank") {
    val rnd = new scala.util.Random(42)
    val xs = Array.fill(50000)(rnd.nextDouble() * 1000.0)
    val d = new TDigest(300.0)
    xs.foreach(d.add(_))
    val sorted = xs.sorted
    for (p <- Seq(0.01, 0.1, 0.5, 0.9, 0.95, 0.99, 0.999)) {
      val est = d.quantile(p)
      // rank of the estimate must be within 1% of the target rank
      val rank = sorted.count(_ <= est).toDouble / xs.length
      assert(math.abs(rank - p) <= 0.01, s"p=$p est=$est rank=$rank")
    }
  }

  test("skewed (lognormal) data: tails stay within 0.5% of rank") {
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(50000)(math.exp(rnd.nextGaussian() * 2.0))
    val d = new TDigest(300.0)
    xs.foreach(d.add(_))
    val sorted = xs.sorted
    for (p <- Seq(0.001, 0.01, 0.99, 0.999)) {
      val rank = sorted.count(_ <= d.quantile(p)).toDouble / xs.length
      assert(math.abs(rank - p) <= 0.005, s"tail p=$p rank=$rank")
    }
  }

  test("merge of shard digests ~ single digest; serialization round-trips") {
    val rnd = new scala.util.Random(11)
    val xs = Array.fill(40000)(rnd.nextGaussian() * 10.0 + 50.0)
    val shards = xs.grouped(5000).toSeq
    val merged = new TDigest(300.0)
    shards.foreach { shard =>
      val part = new TDigest(300.0)
      shard.foreach(part.add(_))
      // through the wire format, as Spark's shuffle would
      merged.mergeWith(TDigest.deserialize(part.serialize()))
    }
    val sorted = xs.sorted
    for (p <- Seq(0.05, 0.5, 0.95)) {
      val rank = sorted.count(_ <= merged.quantile(p)).toDouble / xs.length
      assert(math.abs(rank - p) <= 0.01, s"merged p=$p rank=$rank")
    }
    // round-trip of the merged digest preserves every estimate exactly
    val rt = TDigest.deserialize(merged.serialize())
    for (p <- Seq(0.01, 0.5, 0.99))
      assert(
        java.lang.Double.doubleToLongBits(rt.quantile(p)) ==
          java.lang.Double.doubleToLongBits(merged.quantile(p))
      )
  }

  test("centroid count stays O(compression) regardless of input size") {
    val d = new TDigest(100.0)
    (1 to 200000).foreach(i => d.add(i.toDouble))
    assert(d.centroidCount <= 100, s"centroids=${d.centroidCount}")
    assert(math.abs(d.totalWeight - 200000.0) < 1e-6)
  }

  test("tiny inputs are exact (min/max pinned, single value)") {
    val one = new TDigest(300.0)
    one.add(42.0)
    assert(one.quantile(0.0) == 42.0 && one.quantile(1.0) == 42.0)
    val few = new TDigest(300.0)
    Seq(1.0, 2.0, 3.0).foreach(few.add(_))
    assert(few.quantile(0.0) == 1.0)
    assert(few.quantile(1.0) == 3.0)
  }

  test("NaN inputs are dropped, not folded into centroids") {
    val d = new TDigest(300.0)
    Seq(1.0, Double.NaN, 2.0, 3.0, Double.NaN).foreach(d.add(_))
    assert(d.totalWeight == 3.0)
    assert(d.quantile(0.0) == 1.0 && d.quantile(1.0) == 3.0)
    assert(!d.quantile(0.5).isNaN)
  }

  test("graft_tdigest in a grouped agg is partition-layout invariant within bounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 30000).map(i => (s"g${i % 3}", rnd.nextDouble() * 100.0))
    val df = rows.toDF("g", "v")
    def run(parts: Int): Map[String, Seq[Double]] =
      df.repartition(parts)
        .groupBy($"g")
        .agg(GraftFunctions.graft_tdigest($"v", Seq(0.5, 0.95, 0.99)).as("qs"))
        .as[(String, Seq[Double])]
        .collect()
        .toMap
    val exact: Map[String, Array[Double]] = rows
      .groupBy(_._1)
      .map { case (g, vs) => g -> vs.map(_._2).toArray.sorted }
    for (layout <- Seq(run(1), run(32))) {
      for ((g, qs) <- layout; (p, est) <- Seq(0.5, 0.95, 0.99).zip(qs)) {
        val sorted = exact(g)
        val rank = sorted.count(_ <= est).toDouble / sorted.length
        assert(math.abs(rank - p) <= 0.01, s"g=$g p=$p rank=$rank")
      }
    }
  }

  test("property: quantiles are monotone in p and bounded by [min, max] on any shape") {
    val shapes: Seq[(String, scala.util.Random => Double)] = Seq(
      ("uniform", r => r.nextDouble() * 100),
      ("gaussian", r => r.nextGaussian() * 5 + 10),
      ("lognormal", r => math.exp(r.nextGaussian())),
      ("bimodal", r => if (r.nextBoolean()) r.nextGaussian() else r.nextGaussian() + 1000),
      ("constant", _ => 7.0),
      ("two-point", r => if (r.nextInt(10) == 0) 1e9 else 0.0)
    )
    val probs = (0 to 20).map(_ / 20.0)
    for (((name, draw), seedOff) <- shapes.zipWithIndex; n <- Seq(5, 1000, 30000)) {
      val rnd = new scala.util.Random(100 + seedOff)
      val xs = Array.fill(n)(draw(rnd))
      val d = new TDigest(300.0)
      xs.foreach(d.add(_))
      val qs = probs.map(d.quantile)
      qs.sliding(2).foreach { case Seq(a, b) =>
        assert(a <= b, s"$name n=$n: quantiles must be monotone ($a > $b)")
      }
      assert(qs.head >= xs.min && qs.last <= xs.max, s"$name n=$n: out of range")
      assert(d.quantile(0.0) == xs.min && d.quantile(1.0) == xs.max, s"$name n=$n: extremes")
    }
  }

  test("graft_tdigest is callable from SQL and casts integer inputs") {
    import spark.implicits._
    (1 to 1000).toDF("v").createOrReplaceTempView("tdig_in")
    val Array(p50) = spark
      .sql("SELECT graft_tdigest(v, 300.0, 0.5) AS qs FROM tdig_in")
      .selectExpr("qs[0]")
      .as[Double]
      .collect()
    assert(math.abs(p50 - 500.0) <= 10.0, s"p50=$p50")
  }
}
