package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.operators.RangeJoin.BinCol

/** Transparent range-join optimization: rewrites an inner join whose
  * condition contains a containment pattern `start <= p AND p <= stop`
  * (point on one side, interval bounds on the other) into the binned
  * equi-join of [[graft.operators.RangeJoin]] — Catalyst would otherwise
  * plan a broadcast-nested-loop (O(n·m)) or shuffle on only the residual
  * equi keys.
  *
  * The rewrite adds `__graft_bin = p div W` on the point side, explodes
  * the interval side to every bin it overlaps, and equi-joins on the bin
  * (plus whatever other conjuncts existed, kept as-is). Semantics are
  * unchanged: every containment match shares a bin by construction, and
  * the original predicate is still applied.
  *
  * A join whose side already carries the bin column (one built by
  * [[graft.operators.RangeJoin]], or one this rule rewrote) is left as is.
  *
  * Bins are [[RangeBinJoinRule.BinWidth]] positions wide.
  */
case class RangeBinJoinRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import RangeBinJoinRule.BinWidth

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if j.resolved && !alreadyBinned(left) && !alreadyBinned(right) =>
        rewrite(j, left, right, cond, hint).getOrElse(j)
    }

  private def alreadyBinned(p: LogicalPlan): Boolean =
    p.output.exists(_.name == BinCol)

  /** lo <= hi pairs normalized from <=, >=. */
  private def bounds(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(lo, hi)    => Some((lo, hi))
    case GreaterThanOrEqual(hi, lo) => Some((lo, hi))
    case _                          => None
  }

  private def fromOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) &&
      e.deterministic

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression,
                      hint: JoinHint): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val pairs = conjuncts.flatMap(c => bounds(c).map(c -> _))

    // find (start <= p, p <= stop): p bound on one side, start/stop on the other
    def integral(e: Expression): Boolean = e.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val candidates = for {
      (c1, (s, p1)) <- pairs
      (c2, (p2, e)) <- pairs
      if c1 ne c2
      if p1.semanticEquals(p2)
      if integral(p1)
    } yield (c1, c2, s, p1, e)

    candidates.collectFirst {
      case (c1, c2, s, p, e)
          if (fromOnly(p, left) && fromOnly(s, right) && fromOnly(e, right)) ||
             (fromOnly(p, right) && fromOnly(s, left) && fromOnly(e, left)) =>
        val pointOnLeft = fromOnly(p, left)
        val (pointSide, ivSide) = if (pointOnLeft) (left, right) else (right, left)
        val w = Literal(BinWidth, LongType)

        def divW(x: Expression) =
          IntegralDivide(Cast(x, LongType), w, evalMode = EvalMode.LEGACY)

        // point side: project the bin
        val pBinAlias = Alias(divW(p), BinCol)()
        val pointProj = Project(pointSide.output :+ pBinAlias, pointSide)

        // interval side: explode the covered bin range (Sequence is
        // TimeZoneAware — unresolved without a zone; element nullability
        // must match the Generate output attribute)
        val ivBinAttr = AttributeReference(BinCol, LongType, nullable = false)()
        val seqExpr = new Sequence(divW(s), divW(e),
          Some(Literal(1L, LongType)),
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        // degenerate/null intervals (stop < start) match nothing in the
        // original join but would make sequence() throw — filter them out
        val ivFiltered = Filter(LessThanOrEqual(s, e), ivSide)
        val ivGen = Generate(Explode(seqExpr), unrequiredChildIndex = Nil,
          outer = false, qualifier = None,
          generatorOutput = Seq(ivBinAttr), child = ivFiltered)

        val binEq = EqualTo(pBinAlias.toAttribute, ivBinAttr)
        val (newL, newR) =
          if (pointOnLeft) (pointProj, ivGen) else (ivGen, pointProj)
        val newJoin = Join(newL, newR, Inner,
          Some(conjuncts.reduce(And) match { case c => And(binEq, c) }), hint)
        Project(j.output, newJoin)
    }
  }
}

object RangeBinJoinRule {
  /** 2^20 positions: a gene-sized interval spans one or two bins. */
  val BinWidth: Long = 1L << 20
}
