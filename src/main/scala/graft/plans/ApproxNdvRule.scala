package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Config-driven optimizer rewrite (the `Rule[LogicalPlan]` tier of the
  * extension ladder, SURVEY §7.4): when `spark.graft.approxNdv=true`,
  * every exact `COUNT(DISTINCT x)` becomes a HyperLogLog++ sketch
  * (`approx_count_distinct`, 5% default rsd).
  *
  * Why: at 100 TB an exact distinct is a full shuffle of every distinct
  * value; the sketch is fixed-size mergeable state, and for guardrail /
  * monitoring queries the 2–5% error is free speed. The flag makes the
  * trade explicit per session (default off — t2 oracle checks need exact
  * results), and no query text changes — the same plan runs exact or
  * sketched, which is the point of doing this in the optimizer.
  *
  * Scope guard: only single-argument COUNT(DISTINCT x) with no filter
  * clause rewrites; multi-arg distincts and filtered aggregates pass
  * through untouched. Result type (LongType) is unchanged, so the
  * rewrite is schema-transparent.
  */
object ApproxNdvRule extends Rule[LogicalPlan] {

  val FlagKey = "spark.graft.approxNdv"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!SQLConf.get.getConfString(FlagKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(c: Count, _, true, None, _)
          if c.children.length == 1 =>
        ae.copy(
          aggregateFunction = HyperLogLogPlusPlus(c.children.head),
          isDistinct = false)
    }
}
