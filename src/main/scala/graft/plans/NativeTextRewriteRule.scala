package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, ArrayContains, ArrayFilter, Expression, LambdaFunction, Length, Literal, NamedLambdaVariable, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

import graft.functions.{CountInSet, SumStrLen}

/** Optimizer rewrite of the idiomatic-but-interpreted text HOF patterns
  * to their native codegen expressions (the `Rule[LogicalPlan]` tier of
  * the extension ladder, beside [[ApproxNdvRule]]):
  *
  *  - `size(filter(arr, x -> array_contains(LIT_SET, x)))` →
  *    `count_in_set(arr, LIT_SET)`
  *  - `aggregate(arr, 0, (acc, x) -> acc + length(x))` →
  *    `sum_strlen(arr)`
  *
  * Why a rule and not just the functions: users writing plain Spark get
  * the HOF forms naturally, and their lambdas are interpreted per array
  * element (~5× at token scale, round-1 bench notes). The rewrites are
  * EXACT (same null behavior — including a null ELEMENT poisoning the
  * aggregate fold to NULL, which `sum_strlen` reproduces via its −1
  * sentinel (ADVICE r3) — same integer arithmetic; pinned by
  * `NativeRewriteSpec` equality tests incl. a containsNull array), so
  * unlike the approx-NDV trade
  * this is on by default; `spark.graft.nativeTextRewrite=false` opts out.
  *
  * Scope guards: only fires on string arrays with a FOLDABLE set literal
  * that doesn't capture the lambda variable, only on the exact
  * accumulator shape, and never under `legacySizeOfNull` (where
  * `size(null) = -1` but `count_in_set(null)` is null).
  */
object NativeTextRewriteRule extends Rule[LogicalPlan] {

  val FlagKey = "spark.graft.nativeTextRewrite"

  private def strArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!SQLConf.get.getConfString(FlagKey, "true").toBoolean) plan
    else plan.transformAllExpressions {
      // size(filter(arr, x -> array_contains(set, x)))
      case Size(
          ArrayFilter(arr,
            LambdaFunction(ArrayContains(set, v: NamedLambdaVariable), Seq(lv: NamedLambdaVariable), _)),
          false)
          if v.exprId == lv.exprId && set.foldable && strArray(arr) && strArray(set) =>
        CountInSet(arr, set)

      // aggregate(arr, 0, (acc, x) -> acc + length(x))  [identity finish]
      // The Add's eval mode travels with the rewrite (ADVICE r4): LEGACY
      // wraps, ANSI throws on the overflowing step, TRY nulls — SumStrLen
      // reproduces whichever the fold would have done.
      case agg @ ArrayAggregate(arr,
          Literal(0, IntegerType),
          LambdaFunction(Add(accRef: NamedLambdaVariable, Length(xRef: NamedLambdaVariable), mode),
            Seq(acc: NamedLambdaVariable, x: NamedLambdaVariable), _),
          LambdaFunction(finRef: NamedLambdaVariable, Seq(fin: NamedLambdaVariable), _))
          if accRef.exprId == acc.exprId && xRef.exprId == x.exprId &&
            finRef.exprId == fin.exprId && strArray(arr) =>
        SumStrLen(arr, mode.evalMode)
    }
}
