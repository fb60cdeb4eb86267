package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a pure range-predicate inner join
  * (`r.v BETWEEN l.lo AND l.hi`, no equi keys) into the bucketed
  * equi-join shape of [[graft.operators.RangeJoin]] — Spark's planner
  * would otherwise fall back to BroadcastNestedLoopJoin or a cartesian
  * product, both O(|L|·|R|).
  *
  * The rewrite is the logical-plan form of the operator: the interval
  * side explodes into the covering bucket ids
  * (`sequence(floor(lo/W), floor(hi/W))`), the value side projects its
  * single bucket (`floor(v/W)`), and the join becomes
  * `bucketL = bucketR AND <original range condition>` — the planner's
  * `ExtractEquiJoinKeys` then picks the bucket equality as the shuffle
  * key and keeps the range predicate as the in-bucket filter. Output
  * columns and semantics are unchanged (a value lands in exactly one
  * bucket, so no duplicates are introduced; null bounds/values match
  * nothing, as in the original predicate).
  *
  * Scope guards (all must hold, otherwise the join is left untouched):
  *   - the condition is exactly one lower + one upper bound conjunct
  *     (`>=`/`<=` in either operand orientation);
  *   - the join type keeps the EXPLODED (interval) side non-preserved:
  *     inner joins in either orientation; left outer / left semi / left
  *     anti only when the value side is the left ("events with an
  *     optional window match"); right outer only when the value side is
  *     the right. A preserved interval side would emit one null-padded
  *     (or kept) row PER covering bucket instead of one per interval
  *     row, so full outer — and the wrong orientations — are declined.
  *     Match-existence is unchanged by the rewrite, so semi/anti
  *     semantics are exact; the value side is never duplicated (one
  *     bucket per row), so preserved-value-side outer joins are exact.
  *   - the bounded value and both bounds are `LongType` (integer bucket
  *     math is exact for the FULL long range — floor division is done
  *     in integer arithmetic, never through a double, so 64-bit hash
  *     keys above 2^53 bucket correctly; callers convert time to epoch
  *     seconds/days);
  *   - value references only one side, both bounds only the other.
  *
  * Installed in every session by [[graft.functions.GraftExtensions]]
  * and a no-op until `spark.graft.rangeJoin.bucketWidth` (positive
  * long, in value units) is set. Width choice: on the order of the
  * typical interval; replication is `(hi−lo)/W + 1` per interval
  * row. The rule is idempotent (the rewritten join has an equi
  * conjunct and no longer matches).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  private case class RangePred(v: Expression, lo: Expression, hi: Expression)

  /** Readings of a conjunct as (value, bound, boundIsLower). */
  private def readings(c: Expression): Seq[(Expression, Expression, Boolean)] = c match {
    case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
    case LessThanOrEqual(a, b)    => Seq((a, b, false), (b, a, true))
    case _                        => Seq.empty
  }

  /** True iff e references only attributes of `side`. */
  private def onlyFrom(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def extract(
      cond: Expression,
      l: LogicalPlan,
      r: LogicalPlan
  ): Option[(RangePred, Boolean)] = cond match {
    case And(c1, c2) =>
      (for {
        (v1, b1, low1) <- readings(c1)
        (v2, b2, low2) <- readings(c2)
        if low1 != low2 && v1.semanticEquals(v2)
        if Seq(v1, b1, b2).forall(_.dataType == LongType)
        vOnLeft <- Seq(true, false)
        (vSide, bSide) = if (vOnLeft) (l, r) else (r, l)
        if onlyFrom(v1, vSide) && onlyFrom(b1, bSide) && onlyFrom(b2, bSide)
      } yield {
        val (lo, hi) = if (low1) (b1, b2) else (b2, b1)
        (RangePred(v1, lo, hi), vOnLeft)
      }).headOption
    case _ => None
  }

  /** Exact `floorDiv(e, w)` for longs: `e div w` truncates toward zero,
    * so subtract 1 when the division was inexact and the operand
    * negative (w is validated positive). All-integer arithmetic — a
    * double `Floor(Divide(...))` loses ulps above 2^53 and can bucket a
    * full-range 64-bit key differently on the value and interval sides,
    * silently dropping matches.
    */
  private def bucketOf(e: Expression, w: Long): Expression = {
    val wl = Literal(w)
    val q = IntegralDivide(e, wl)
    val inexactNeg =
      And(Not(EqualTo(Remainder(e, wl), Literal(0L))), LessThan(e, Literal(0L)))
    Subtract(q, If(inexactNeg, Literal(1L), Literal(0L)))
  }

  /** The exploded interval side must not be row-preserved by the join. */
  private def orientationOk(jt: JoinType, vOnLeft: Boolean): Boolean = jt match {
    case Inner                           => true
    case LeftOuter | LeftSemi | LeftAnti => vOnLeft
    case RightOuter                      => !vOnLeft
    case _                               => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = scala.util.Try(conf.getConfString(WidthConf, "0").toLong).getOrElse(0L)
    if (width <= 0) plan
    else
      plan.transform {
        case j @ Join(l, r, jt, Some(cond), _)
            if extract(cond, l, r).exists { case (_, vOnLeft) => orientationOk(jt, vOnLeft) } =>
          val (RangePred(v, lo, hi), vOnLeft) = extract(cond, l, r).get
          val (valueSide, intervalSide) = if (vOnLeft) (l, r) else (r, l)

          // Interval side: explode the covering bucket range. Sequence is
          // TimeZoneAwareExpression — it stays UNRESOLVED without a
          // timezone id even over longs, so pass the session zone.
          val bucketSeq =
            Sequence(
              bucketOf(lo, width),
              bucketOf(hi, width),
              None,
              Some(conf.sessionLocalTimeZone)
            )
          val bucketL =
            AttributeReference("__graft_bucket", LongType, nullable = false)()
          val intervalsB = Generate(
            Explode(bucketSeq),
            unrequiredChildIndex = Nil,
            outer = false,
            qualifier = None,
            generatorOutput = Seq(bucketL),
            child = intervalSide
          )

          // Value side: each value lands in exactly one bucket.
          val bucketAlias = Alias(bucketOf(v, width), "__graft_bucket_v")()
          val valuesB = Project(valueSide.output :+ bucketAlias, valueSide)

          val (newL, newR) =
            if (vOnLeft) (valuesB: LogicalPlan, intervalsB: LogicalPlan)
            else (intervalsB: LogicalPlan, valuesB: LogicalPlan)
          val newCond =
            And(EqualTo(bucketL, bucketAlias.toAttribute), cond)
          Project(
            j.output,
            Join(newL, newR, jt, Some(newCond), JoinHint.NONE)
          )
      }
  }
}
