package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DotProductSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-dot-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("graft_dot matches the HOF fold bit-for-bit (incl codegen path)") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.7, 0.11, 1e-3)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
    val out = df
      .withColumn("native", GraftFunctions.graft_dot(col("a"), col("b")))
      .withColumn(
        "hof",
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      )
      .collect()
    out.foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getAs[Double]("native")) ==
          java.lang.Double.doubleToLongBits(r.getAs[Double]("hof"))
      )
    }
  }

  test("graft_l2 matches the HOF squared-diff fold bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map(_ => (Seq.fill(64)(rnd.nextDouble() - 0.5), Seq.fill(64)(rnd.nextDouble() - 0.5))) :+
      ((Seq.empty[Double], Seq.empty[Double]))
    val df = rows.toDF("a", "b")
    val out = df
      .withColumn("native", GraftFunctions.graft_l2(col("a"), col("b")))
      .withColumn(
        "hof",
        aggregate(
          zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0.0),
          (acc, v) => acc + v
        )
      )
      .collect()
    out.foreach { r =>
      assert(
        java.lang.Double.doubleToLongBits(r.getAs[Double]("native")) ==
          java.lang.Double.doubleToLongBits(r.getAs[Double]("hof"))
      )
    }
  }

  test("null array propagates null") {
    val row = spark
      .sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d")
      .collect()(0)
    assert(row.isNullAt(0))
  }

  test("vector queries still oracle-consistent sample: q24 top neighbor stable") {
    val out = queries.VectorQueries.q24KnnBrute(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 50)
    assert(out.map(_.getAs[Int]("rank")).count(_ == 1) == 5)
  }
}
