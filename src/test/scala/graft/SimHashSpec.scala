package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-simhash-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("graft_simhash equals the interpreted HOF vote chain exactly") {
    import spark.implicits._
    val df = Seq(
      Seq(1L, 2L, 3L, 268435455L),          // boundary 28-bit value
      Seq(0L),                              // all-zero hash: all votes -1
      Seq(123456L, 123456L, 123456L),       // repeated token dominates
      Seq.empty[Long]                       // empty doc: simhash 0
    ).toDF("th")
    def bitAt(h: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor(h / pow(lit(2.0), b)).cast("long") % 2
    val hof = aggregate(
      zip_with(
        transform(
          sequence(lit(0), lit(27)),
          bb =>
            when(
              aggregate(
                col("th"),
                lit(0L),
                (acc, h) => acc + when(bitAt(h, bb) === 1, lit(1L)).otherwise(lit(-1L))
              ) > 0,
              lit(1L)
            ).otherwise(lit(0L))
        ),
        sequence(lit(0), lit(27)),
        (bit, i) => bit * pow(lit(2.0), i).cast("long")
      ),
      lit(0L),
      (acc, v) => acc + v
    )
    val out = df
      .withColumn("native", GraftFunctions.graft_simhash(col("th"), 28))
      .withColumn("hof", hof)
      .collect()
    out.foreach(r => assert(r.getAs[Long]("native") == r.getAs[Long]("hof"), r.toString))
  }

  test("graft_quantize equals the HOF range-quantize chain exactly") {
    import spark.implicits._
    val df = Seq(
      Seq(0.0, 0.5, 1.0, -3.25, 7.5),
      Seq(2.5, 2.5, 2.5), // constant vector: span 0 → zero checksum/err
      Seq(1e-9, -1e-9, 0.0),
      Seq.empty[Double] // empty: null range, zero checksum/err
    ).toDF("emb")
    val mn = array_min(col("emb"))
    val mx = array_max(col("emb"))
    val span = mx - mn
    def q(v: org.apache.spark.sql.Column) = least(floor(((v - mn) * 255) / span), lit(255L))
    val out = df
      .select(
        GraftFunctions.graft_quantize(col("emb")).as("n"),
        mn.as("h_min"),
        mx.as("h_max"),
        when(span === 0, lit(0L))
          .otherwise(aggregate(col("emb"), lit(0L), (acc, v) => acc + q(v)))
          .as("h_checksum"),
        when(span === 0, lit(0.0))
          .otherwise(
            aggregate(
              col("emb"),
              lit(0.0),
              (acc, v) => acc + abs(v - (mn + (q(v).cast("double") * span) / 255))
            ) / 64
          )
          .as("h_err")
      )
      .collect()
    out.foreach { r =>
      val s = r.getStruct(0)
      assert(Option(s.get(0)) == Option(r.get(1)), s"q_min: $r")
      assert(Option(s.get(1)) == Option(r.get(2)), s"q_max: $r")
      assert(s.getLong(2) == r.getLong(3), s"checksum: $r")
      assert(
        java.lang.Double.doubleToLongBits(s.getDouble(3)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(4)),
        s"err: $r"
      )
    }
  }

  test("all three native functions resolve through the session registry") {
    val row = spark
      .sql(
        """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
          |       graft_minhash(array(5L, 9L), 2) AS m,
          |       graft_simhash(array(5L, 9L), 28) AS s,
          |       graft_l2(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS l,
          |       graft_quantize(array(0.0d, 1.0d)).q_max AS qm,
          |       graft_shingles(array('a', 'b', 'c', 'a', 'b', 'c')) AS sh,
          |       graft_shingles_pos(array('a', 'b', 'c', 'a', 'b', 'c')) AS shp""".stripMargin
      )
      .collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getSeq[Long](1).length == 2)
    assert(row.getLong(2) >= 0L)
    assert(row.getDouble(3) == 25.0)
    assert(row.getDouble(4) == 1.0)
    // 4 windows of 3 tokens, but (a,b,c) repeats — distinct keeps 3.
    assert(row.getSeq[Long](5).length == 3)
    // positional form keeps all 4 window hashes; window 0 == window 3
    val shp = row.getSeq[Long](6)
    assert(shp.length == 4 && shp(0) == shp(3) && shp.toSet == row.getSeq[Long](5).toSet)
    // graft_bloom_contains takes a serialized filter as a binary literal;
    // exercise the SQL-registered form through the Column API that emits it
    import spark.implicits._
    val bf = Seq(1L, 2L).toDF("k").stat.bloomFilter("k", 100, 0.01)
    val hits = Seq(1L, 99L)
      .toDF("k")
      .select(graft.functions.GraftFunctions.graft_bloom_contains(org.apache.spark.sql.functions.col("k"), bf))
      .collect()
      .map(_.getBoolean(0))
    assert(hits(0), "inserted key must hit")
  }

  test("extensions installer wires without error (cluster deploy path)") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // all three injectFunction calls
  }

  test("a session BUILT with the installer serves functions and the range-join rule end-to-end") {
    // The cluster-deploy path proper: a SparkSession constructed with
    // GraftExtensions (what `spark.sql.extensions=graft.functions.
    // GraftExtensions` does at cluster startup) must serve the native
    // functions through plain SQL with ZERO register() calls on it,
    // and carry the range-join optimizer rule. Built over the shared
    // local SparkContext; active/default sessions restored after.
    val prev = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config(graft.plans.RangeJoinRewrite.WidthConf, "16")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      assert(s2 ne prev, "builder must construct a NEW session for the extension test")
      // functions resolve in SQL with no explicit registration
      val row = s2
        .sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "size(graft_shingles(array('a', 'b', 'c', 'a', 'b', 'c'))) AS n")
        .head()
      assert(row.getDouble(0) == 11.0 && row.getInt(1) == 3)
      // the injected optimizer rule rewrites a pure range join
      import s2.implicits._
      val intervals = Seq((1L, 10L, 20L), (2L, 50L, 90L)).toDF("lid", "lo", "hi")
      val values = Seq(9L, 15L, 60L, 91L).toDF("v")
      val joined = values.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      val plan = joined.queryExecution.executedPlan.toString
      assert(
        !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"installed rule should have rewritten the range join:\n$plan")
      assert(
        joined.select("lid", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
          Set((1L, 15L), (2L, 60L)))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
    }
  }
}
