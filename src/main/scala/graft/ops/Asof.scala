package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

import graft.plans.AsofJoinPlan

/** Public API for the native as-of join operator (graft.plans.AsofJoinExec).
  *
  * `Asof.join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")`
  * returns events ++ the matched order columns for the greatest
  * o_orderdate ≤ ts per key (inner semantics).
  */
object Asof {

  /** ASOF LEFT JOIN: unmatched left rows are kept and null-extended
    * (DuckDB `ASOF LEFT JOIN` semantics).
    */
  def leftJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tolerance: Option[Long] = None): DataFrame =
    join(left, right, leftKey, rightKey, leftTime, rightTime,
      isLeftOuter = true, tolerance = tolerance)

  /** FORWARD as-of join (pandas merge_asof direction='forward'): for
    * each left row, the FIRST right row with equal key and right-time ≥
    * left-time — "next event after", which the backward pick cannot
    * express. `tolerance` bounds rightTime − leftTime the same way.
    */
  def joinForward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      isLeftOuter: Boolean = false,
      tolerance: Option[Long] = None): DataFrame =
    join(left, right, leftKey, rightKey, leftTime, rightTime,
      isLeftOuter = isLeftOuter, tolerance = tolerance, isForward = true)

  /** NEAREST as-of (pandas merge_asof direction='nearest') as a
    * COMPOSITION of the two native passes — tier (a) of the extension
    * ladder: backward and forward left-outer joins stitched on a unique
    * left id, keeping whichever match is closer in time (ties go
    * backward). No third physical operator: the semantics compose
    * exactly, at the cost of two extra equi-joins on the id.
    *
    * Requirements: `leftId` unique and non-null; left/right column names
    * disjoint (alias first); time columns timestamp-typed (the distance
    * comparison runs on microseconds).
    */
  def joinNearest(left: DataFrame, right: DataFrame, leftId: String,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      isLeftOuter: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, struct, when}
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "joinNearest needs disjoint left/right column names — alias before joining")
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tsFam: Set[org.apache.spark.sql.types.DataType] =
      Set(TimestampType, TimestampNTZType)
    require(tsFam(left.schema(leftTime).dataType) &&
        tsFam(right.schema(rightTime).dataType),
      "joinNearest needs timestamp time columns (micros distance)")
    val rStruct = struct(right.columns.map(col): _*)
    def pass(fwd: Boolean, tag: String) =
      join(left, right, leftKey, rightKey, leftTime, rightTime,
        isLeftOuter = true, isForward = fwd)
        // matched rt is never null by merge semantics, so rt-null ⇔ no match
        .select(col(leftId).as(s"__id_$tag"),
          when(col(rightTime).isNotNull, rStruct).as(s"__$tag"))
    val stitched = left
      .join(pass(fwd = false, "b"), col(leftId) === col("__id_b"), "left")
      .join(pass(fwd = true, "f"), col(leftId) === col("__id_f"), "left")
      .withColumn("__pick",
        when(col("__b").isNull, col("__f"))
          .when(col("__f").isNull, col("__b"))
          .when(expr(s"unix_micros($leftTime) - unix_micros(__b.$rightTime)") <=
            expr(s"unix_micros(__f.$rightTime) - unix_micros($leftTime)"),
            col("__b"))
          .otherwise(col("__f")))
    val kept = if (isLeftOuter) stitched else stitched.filter(col("__pick").isNotNull)
    kept.select(left.columns.map(col) ++
      right.columns.map(c => col(s"__pick.$c").as(c)): _*)
  }

  /** `tolerance` (pandas merge_asof semantics): the as-of match only
    * counts when leftTime − rightTime ≤ tolerance (rightTime − leftTime
    * for the forward direction), expressed in the time type's own units
    * (micros for timestamps, days for dates) — a stale quote stops
    * matching instead of matching forever. Out-of-tolerance lefts drop
    * (inner) or null-extend (left outer).
    */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      isLeftOuter: Boolean = false,
      tolerance: Option[Long] = None,
      isForward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rpRaw = right.queryExecution.analyzed
    // Self-join / shared-lineage dedup: Spark's analyzer rewrites duplicate
    // exprIds for Join nodes but cannot for a custom node — re-alias the
    // right side with fresh exprIds (mirrors Dataset.join's withPlan dedup).
    val rp = if (rpRaw.outputSet.intersect(lp.outputSet).nonEmpty) {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Project
      Project(rpRaw.output.map(a => Alias(a, a.name)()), rpRaw)
    } else rpRaw
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val lt = attr(lp, leftTime)
    // Reconcile timestamp-family mismatches by casting the right side to
    // the left's type (timestamp_ntz → timestamp is identity on micros in
    // a UTC session). Only within the family — an int yyyymmdd against a
    // timestamp must still fail fast, not be misread as epoch seconds.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tsFamily: Set[org.apache.spark.sql.types.DataType] =
      Set(TimestampType, TimestampNTZType)
    val rt0 = attr(rp, rightTime)
    val rt: org.apache.spark.sql.catalyst.expressions.Expression =
      if (rt0.dataType != lt.dataType &&
          tsFamily(rt0.dataType) && tsFamily(lt.dataType))
        org.apache.spark.sql.catalyst.expressions.Cast(rt0, lt.dataType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
      else rt0
    Bridge.ofRows(spark, AsofJoinPlan(lp, rp,
      Seq(attr(lp, leftKey)), Seq(attr(rp, rightKey)),
      lt, rt, isLeftOuter, tolerance, isForward))
  }
}
