package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * Replaces the higher-order-function form
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0d, (acc, v) => acc + v)`,
  * which executes as an interpreted CodegenFallback chain with one lambda
  * frame per element. The generated code is a tight primitive loop inside
  * whole-stage codegen — same sequential IEEE fold, bit-identical result.
  *
  * Null semantics: null input array → null (NullIntolerant-style via
  * BinaryExpression's default nullSafeEval dispatch); arrays are assumed
  * to have no null elements (embedding vectors), matching the HOF form's
  * behavior on such data. Lengths are folded to the shorter side, which
  * mirrors zip_with-then-multiply on equal-length inputs.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> arguments, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}"
      )
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** Column-API surface for the engine's native functions. */
object GraftFunctions {

  /** `graft_tdigest(value, compression, p1, p2, …)` builder. SQL
    * numeric literals arrive as Decimal, Column-API lits as primitives —
    * accept both.
    */
  private[functions] val buildTDigest: Seq[Expression] => Expression = { exprs =>
    if (exprs.length < 3)
      throw new IllegalArgumentException(
        s"graft_tdigest(value, compression, p1[, p2, …]) needs at least 3 arguments, got ${exprs.length}"
      )
    def asDouble(e: Expression): Double = {
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"graft_tdigest compression/probabilities must be literals, got ${e.sql}"
        )
      e.eval() match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number                             => n.doubleValue()
        case other =>
          throw new IllegalArgumentException(
            s"graft_tdigest expects numeric literals, got $other"
          )
      }
    }
    TDigestAgg(
      org.apache.spark.sql.catalyst.expressions.Cast(
        exprs(0),
        org.apache.spark.sql.types.DoubleType
      ),
      exprs.drop(2).map(asDouble),
      asDouble(exprs(1))
    )
  }

  /** Column-API forms; they resolve in any session built with
    * [[GraftExtensions]], which [[graft.GraftSession.builder]] installs.
    */
  def graft_dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def graft_minhash(shingleInts: Column, nHashes: Int): Column =
    call_function("graft_minhash", shingleInts, org.apache.spark.sql.functions.lit(nHashes))

  def graft_simhash(tokenHashes: Column, nBits: Int): Column =
    call_function("graft_simhash", tokenHashes, org.apache.spark.sql.functions.lit(nBits))

  def graft_quantize(vec: Column): Column = call_function("graft_quantize", vec)

  def graft_l2(a: Column, b: Column): Column = call_function("graft_l2", a, b)

  def graft_shingles(tokens: Column): Column = call_function("graft_shingles", tokens)

  def graft_shingles_pos(tokens: Column): Column =
    call_function("graft_shingles_pos", tokens)

  /** Mergeable t-digest quantile sketch (see [[TDigestAgg]]); returns
    * `array<double>` of estimates at `probs`.
    */
  def graft_tdigest(
      value: Column,
      probs: Seq[Double],
      compression: Double = TDigest.DefaultCompression
  ): Column =
    call_function(
      "graft_tdigest",
      (value +: org.apache.spark.sql.functions.lit(compression) +:
        probs.map(org.apache.spark.sql.functions.lit(_))): _*
    )

  /** Argmax-cosine coarse assignment against a bounded centroid set
    * (see [[ArgmaxCosine]]); the centroid matrix is evaluated once at
    * plan build and never enters the expression tree.
    */
  def graft_argmax_cos(
      emb: Column,
      nrm: Column,
      centIds: Seq[Long],
      centEmbs: Seq[Seq[Double]],
      centNrms: Seq[Double]
  ): Column =
    call_function(
      "graft_argmax_cos",
      emb,
      nrm,
      org.apache.spark.sql.functions.typedLit(centIds),
      org.apache.spark.sql.functions.typedLit(centEmbs),
      org.apache.spark.sql.functions.typedLit(centNrms)
    )

  /** Full BPE merge-table application (see [[BpeApplyMerges]]); the
    * table is evaluated once at plan build into constructor state —
    * one expression node at any vocabulary size.
    */
  def graft_bpe_apply(sym: Column, merges: Seq[(String, String)]): Column =
    call_function(
      "graft_bpe_apply",
      sym,
      org.apache.spark.sql.functions.typedLit(merges.map(_._1)),
      org.apache.spark.sql.functions.typedLit(merges.map(_._2))
    )

  /** Whitespace-tokenized model-token count under a merge table (see
    * [[BpeCountTokens]]); the table is constructor state, the count is
    * one codegen'd single-pass call per row.
    */
  def graft_bpe_count(text: Column, merges: Seq[(String, String)]): Column =
    call_function(
      "graft_bpe_count",
      text,
      org.apache.spark.sql.functions.typedLit(merges.map(_._1)),
      org.apache.spark.sql.functions.typedLit(merges.map(_._2))
    )

  /** Membership probe against a pre-built bloom filter (see
    * [[BloomContains]]); the serialized bits travel as a binary literal.
    */
  def graft_bloom_contains(key: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    call_function("graft_bloom_contains", key, org.apache.spark.sql.functions.lit(out.toByteArray))
  }
}

/** Installs the native functions and the [[graft.plans.RangeJoinRewrite]]
  * optimizer rule into a session. [[graft.GraftSession.builder]] applies
  * it to every session it builds; `spark.sql.extensions=graft.functions.
  * GraftExtensions` is needed only for sessions built outside it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    // Gated on spark.graft.rangeJoin.bucketWidth — a no-op until set.
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}

object GraftExtensions {

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** One row per native function: SQL name, expression class, builder. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    ("graft_minhash", classOf[MinHashSignature], es => MinHashSignature(es(0), intArg(es(1)))),
    ("graft_simhash", classOf[SimHash], es => SimHash(es(0), intArg(es(1)))),
    ("graft_quantize", classOf[Quantize], es => Quantize(es(0))),
    ("graft_l2", classOf[SquaredL2], es => SquaredL2(es(0), es(1))),
    (
      "graft_bloom_contains",
      classOf[BloomContains],
      es => BloomContains(es(0), es(1).eval().asInstanceOf[Array[Byte]])
    ),
    ("graft_shingles", classOf[ShingleHashes], es => ShingleHashes(es(0))),
    ("graft_shingles_pos", classOf[ShingleHashes], es => ShingleHashes(es(0), positional = true)),
    ("graft_tdigest", classOf[TDigestAgg], GraftFunctions.buildTDigest),
    ("graft_argmax_cos", classOf[ArgmaxCosine], ArgmaxCosine.build),
    ("graft_bpe_apply", classOf[BpeApplyMerges], BpeApplyMerges.build),
    ("graft_bpe_count", classOf[BpeCountTokens], BpeCountTokens.build)
  )
}
