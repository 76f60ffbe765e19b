package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Config-driven optimizer rewrite (the `Rule[LogicalPlan]` tier, beside
  * [[ApproxNdvRule]]): when `spark.graft.approxPercentile=true`, every
  * exact `percentile(x, p)` aggregate becomes the GK-sketch
  * `percentile_approx(x, p, 10000)`.
  *
  * Why: an exact percentile needs every value of the group collected and
  * sorted — at 100 TB groups that is the spill-heavy per-group sort
  * SCALING_MEASURED.md flags for q35 (ratio 5.5 at 10× data). The
  * quantile sketch is fixed-size mergeable state (error ≤ 1/accuracy ≈
  * 10⁻⁴ in rank), turning the group sort into an ordinary partial+final
  * aggregation. The flag makes the trade explicit per session (default
  * off — the oracle gate needs exact results) and no query text changes.
  *
  * Scope guards: only the exact `Percentile` aggregate over a DOUBLE
  * column with unit frequency, non-distinct, unfiltered, rewrites —
  * `percentile_approx` returns the input type, so for a double input the
  * result type (double, or array<double> for multi-p) is unchanged and
  * the rewrite is schema-transparent; integer inputs (where exact
  * percentile interpolates to double but the sketch returns the input
  * type) pass through untouched.
  */
object ApproxPercentileRule extends Rule[LogicalPlan] {

  val FlagKey = "spark.graft.approxPercentile"

  private def isOne(e: Expression): Boolean = e match {
    case Literal(v, _) => v == 1L || v == 1 || v == 1.0
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!SQLConf.get.getConfString(FlagKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(p: Percentile, _, false, None, _)
          if p.children.length == 3 && p.children.head.dataType == DoubleType &&
            p.children(1).foldable && isOne(p.children(2)) =>
        ae.copy(aggregateFunction = ApproximatePercentile(
          p.children.head, p.children(1),
          Literal(ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY), 0, 0))
    }
}
