package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, And, Cast, Expression, GreaterThanOrEqual, Least, Length, Literal, Multiply}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: prune cheap before scoring expensive.
  *
  * For a predicate `similarity_ratio(a, b) >= t` (t a positive literal),
  * Ratcliff/Obershelp gives a NECESSARY condition from lengths alone:
  * ratio = 2M/(|a|+|b|) and M ≤ min(|a|,|b|), so
  * `2·min(|a|,|b|) >= t·(|a|+|b|)` must hold for any match. The rule
  * conjoins that O(1) guard AHEAD of the O(|a|·|b|) scorer, so
  * short-circuit evaluation skips the quadratic kernel for every pair the
  * lengths already rule out — the classic length-banding prune, applied
  * automatically and soundly (no recall loss; rows failing the guard can
  * never pass the original predicate).
  *
  * Unit soundness: Catalyst `Length` counts code points, and
  * `Similarity.ratio` measures sequences of code points too, so the guard
  * and the scorer always agree — including on supplementary-plane input
  * (OptimizerRuleSpec pins this with an emoji pair at t=0.8).
  */
object SimilarityLengthPruning extends Rule[LogicalPlan] {
  private val applied = TreeNodeTag[Boolean]("graft.similarityLengthPruned")

  private def guard(a: Expression, b: Expression, t: Double): Expression = {
    val la = Length(a); val lb = Length(b)
    GreaterThanOrEqual(
      Multiply(Literal(2.0), Cast(Least(Seq(la, lb)), DoubleType)),
      Multiply(Literal(t), Cast(Add(la, lb), DoubleType)))
  }

  private def prune(cond: Expression): Option[Expression] = {
    var changed = false
    val newCond = cond.transformUp {
      case ge @ GreaterThanOrEqual(SimilarityExpression(a, b), Literal(t: Double, DoubleType))
          if t > 0.0 =>
        changed = true
        And(guard(a, b, t), ge)
    }
    if (changed) Some(newCond) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if f.getTagValue(applied).isEmpty =>
      prune(cond) match {
        case Some(newCond) =>
          val nf = Filter(newCond, child)
          nf.setTagValue(applied, true)
          nf
        case None => f
      }
    // Predicate pushdown may fold `similarity >= t` into a join condition
    // (e.g. the banded fuzzy join's pre-window threshold) — guard it there
    // too: the non-equi part of a join condition runs per matched pair,
    // which is exactly where the O(1) length check pays.
    case j: Join if j.getTagValue(applied).isEmpty && j.condition.isDefined =>
      prune(j.condition.get) match {
        case Some(newCond) =>
          val nj = j.copy(condition = Some(newCond))
          nj.setTagValue(applied, true)
          nj
        case None => j
      }
  }
}
