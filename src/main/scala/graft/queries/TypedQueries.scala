package graft.queries

import graft.sources.Parquet

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed Dataset[T] surface: case-class Encoders, `groupByKey`, and a
  * custom [[Aggregator]] — the type-safe face of the same Catalyst
  * plans the DataFrame queries produce. The Aggregator implements the
  * DISTRIBUTED aggregation contract (zero/reduce/merge/finish), so
  * Catalyst runs it with map-side partials like any built-in agg.
  */
object TypedQueries {

  /** Typed row for the lineitem columns the query touches (column
    * pruning still applies — the encoder reads only these four).
    */
  case class LiRow(
      l_returnflag: String,
      l_linestatus: String,
      l_quantity: Double,
      l_extendedprice: Double
  )

  /** Exact-integer state (cents + quantity units) so the merge is
    * order-independent and the single final division is deterministic
    * cross-engine — the q1 integer-cents rule in typed form.
    */
  case class WAvgBuf(cents: Long, qty: Long)

  /** Weighted average price per quantity unit. */
  object WeightedAvgPrice extends Aggregator[LiRow, WAvgBuf, Double] {
    override def zero: WAvgBuf = WAvgBuf(0L, 0L)
    override def reduce(b: WAvgBuf, r: LiRow): WAvgBuf =
      WAvgBuf(b.cents + math.floor(r.l_extendedprice * 100).toLong, b.qty + r.l_quantity.toLong)
    override def merge(a: WAvgBuf, b: WAvgBuf): WAvgBuf =
      WAvgBuf(a.cents + b.cents, a.qty + b.qty)
    override def finish(b: WAvgBuf): Double = b.cents.toDouble / (b.qty * 100)
    override def bufferEncoder: Encoder[WAvgBuf] = Encoders.product[WAvgBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Per (returnflag, linestatus): row count and the Aggregator's
    * weighted mean. `groupByKey` on a case-class key + `typed` count —
    * all still one shuffle with map-side partials.
    */
  def q68TypedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = Parquet.read(spark, s"$dir/lineitem.parquet")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
      .as[LiRow]
    ds.groupByKey(r => (r.l_returnflag, r.l_linestatus))
      .agg(
        WeightedAvgPrice.toColumn.name("avg_price_per_qty"),
        count(lit(1)).as("n").as[Long]
      )
      .toDF("key", "avg_price_per_qty", "n")
      .select(
        col("key._1").as("l_returnflag"),
        col("key._2").as("l_linestatus"),
        col("avg_price_per_qty"),
        col("n")
      )
  }
}
