package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, SortOrder, UnsafeProjection, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Whole-operator Catalyst extension (tier (c) of the extension ladder,
  * SURVEY §7.4): a native AS-OF JOIN — for each left row, the single
  * right row with equal key and the greatest right-time ≤ left-time
  * (backward, the default), or the smallest right-time ≥ left-time
  * (`isForward = true`, pandas merge_asof direction='forward' — the
  * "next event after" join backward cannot express).
  * Inner semantics by default (unmatched left rows drop);
  * `isLeftOuter = true` null-extends unmatched lefts instead, matching
  * DuckDB's ASOF LEFT JOIN.
  *
  * Why a custom operator: Spark has no as-of join; the composition
  * (union + running-last window, `Core.q22AsofJoin`) works but pays a
  * union, a window, and a filter. This node asks Catalyst for exactly
  * what the algorithm needs — co-partitioning on the key and per-
  * partition (key, time) order (EnsureRequirements inserts the
  * exchanges/sorts) — then streams BOTH sides once per partition with a
  * single buffered merge. No window state, no union blowup; at 100 TB
  * it is one shuffle per side, same as a sort-merge join.
  *
  * Correctness oracle: the same DuckDB native ASOF JOIN that checks the
  * composed form (q22/q26 share the oracle SQL).
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    isLeftOuter: Boolean = false,
    tolerance: Option[Long] = None,
    isForward: Boolean = false)
  extends BinaryNode {
  // Fail fast at plan construction (not executor runtime): the merge
  // compares times through an ordering derived from the dataType, which
  // requires both sides to agree and be orderable.
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time columns must have the same type, got " +
      s"${leftTime.dataType.simpleString} vs ${rightTime.dataType.simpleString}")
  require(org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(leftTime.dataType),
    s"as-of time type ${leftTime.dataType.simpleString} is not orderable")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise: " +
      s"${leftKeys.map(_.dataType.simpleString)} vs ${rightKeys.map(_.dataType.simpleString)}")
  // tolerance (pandas merge_asof semantics: the as-of match only counts
  // when left-time − right-time ≤ tolerance) needs a numerically
  // subtractable time representation — the integer-backed atomic types
  // (timestamps = Long micros, date = Int days, plain ints). Checked at
  // plan construction, in the time type's own units.
  tolerance.foreach { tol =>
    require(tol >= 0, s"as-of tolerance must be non-negative, got $tol")
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, TimestampNTZType, TimestampType}
    require(Set[org.apache.spark.sql.types.DataType](
        TimestampType, TimestampNTZType, DateType, IntegerType, LongType)
      .contains(leftTime.dataType),
      s"as-of tolerance needs an integer-backed time type, got ${leftTime.dataType.simpleString}")
  }
  override def output: Seq[Attribute] = left.output ++
    (if (isLeftOuter) right.output.map(_.withNullability(true)) else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy lowering the logical node (installed by
  * [[GraftExtensions]]).
  */
object AsofJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, lo, tol, fwd) =>
      AsofJoinExec(lk, rk, lt, rt, planLater(l), planLater(r), lo, tol, fwd) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: children are hash-clustered on the key and
  * sorted by (key, time); each partition pair merges in one pass,
  * carrying the most recent right row per key.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan,
    isLeftOuter: Boolean = false,
    tolerance: Option[Long] = None,
    isForward: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++
    (if (isLeftOuter) right.output.map(_.withNullability(true)) else right.output)
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeBound = BindReferences.bindReference(leftTime, left.output)
      val rTimeBound = BindReferences.bindReference(rightTime, right.output)
      val keyOrd =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(keyTypes)
      // Compare times through the type's own ordering — works for
      // timestamp (Long), date/int (Int), and any other orderable atomic
      // type, instead of a hardcoded asInstanceOf[Long].
      val timeOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(timeType)
      val resultProj = UnsafeProjection.create(output, output)
      val joined = new JoinedRow
      // time values as primitives for the tolerance subtraction
      // (validated integer-backed at plan construction)
      def timeAsLong(v: Any): Long = v match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
        case other => throw new IllegalStateException(
          s"unexpected time value class ${other.getClass}")
      }
      val rBuf = rIter.buffered
      // all-null right row for unmatched lefts in left-outer mode
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(right.output.length)

      new Iterator[InternalRow] {
        private var lastMatch: InternalRow = null
        private var lastMatchKey: InternalRow = null
        private var lastMatchTime: Long = 0L
        private var pending: InternalRow = null

        /** FORWARD direction: for each left row, the FIRST right row
          * with equal key and rt ≥ lt. Simpler than backward — no carry
          * state at all: rights strictly before lt are consumed (lefts
          * ascend in (key, time), so nothing later wants them), and the
          * matching head is PEEKED, never consumed, because later lefts
          * of the same key may share the same next-right.
          */
        private def computeNextForward(): Unit = {
          while (pending == null && lIter.hasNext) {
            val l = lIter.next()
            val lt = lTimeBound.eval(l)
            val lk = lKeyProj(l)
            var matched = false
            if (lt != null && !lk.anyNull) {
              var advancing = true
              while (advancing && rBuf.hasNext) {
                val rk = rKeyProj(rBuf.head)
                if (rk.anyNull) { rBuf.next(); () }
                else {
                  val c = keyOrd.compare(rk, lk)
                  val rt = rTimeBound.eval(rBuf.head)
                  // null right-times sort first within the key and can
                  // never match — consume them like the backward pass
                  if (c < 0 || (c == 0 && (rt == null || timeOrd.compare(rt, lt) < 0))) {
                    rBuf.next(); ()
                  } else advancing = false
                }
              }
              if (rBuf.hasNext) {
                val rk = rKeyProj(rBuf.head)
                if (!rk.anyNull && keyOrd.compare(rk, lk) == 0) {
                  val rt = rTimeBound.eval(rBuf.head)
                  // forward tolerance mirror: the pick is the SMALLEST
                  // rt ≥ lt, so a failed bound proves no later candidate
                  // can pass either
                  if (tolerance.forall(timeAsLong(rt) - timeAsLong(lt) <= _)) {
                    pending = resultProj(joined(l, rBuf.head))
                    matched = true
                  }
                }
              }
            }
            if (!matched && isLeftOuter) {
              pending = resultProj(joined(l, nullRight))
            }
          }
        }

        private def computeNext(): Unit = {
          if (isForward) { computeNextForward(); return }
          while (pending == null && lIter.hasNext) {
            val l = lIter.next()
            val lt = lTimeBound.eval(l)
            val lk = lKeyProj(l)
            var matched = false
            // SQL equi-join null semantics: a null key (or null time) on
            // the left can never match — skip (inner) / null-extend (outer).
            if (lt != null && !lk.anyNull) {
              // advance the right side up to (key, time ≤ lt)
              var advancing = true
              while (advancing && rBuf.hasNext) {
                val rk = rKeyProj(rBuf.head)
                if (rk.anyNull) {
                  // null keys sort first in ascending order and can never
                  // equal anything (NULL != NULL) — consume and drop
                  rBuf.next()
                } else {
                  val c = keyOrd.compare(rk, lk)
                  val rt = rTimeBound.eval(rBuf.head)
                  val timeOk = rt != null && timeOrd.compare(rt, lt) <= 0
                  // null right-times sort first and can never match — consume
                  // them so they don't stall the merge for their key
                  if (c < 0 || (c == 0 && (timeOk || rt == null))) {
                    val r = rBuf.next()
                    if (c == 0 && timeOk) {
                      lastMatch = r.copy()
                      lastMatchKey = rKeyProj(lastMatch).copy()
                      if (tolerance.isDefined) lastMatchTime = timeAsLong(rt)
                    }
                  } else advancing = false
                }
              }
              // tolerance: the as-of pick is the GREATEST rt ≤ lt, so if
              // it is already too stale, every older candidate is staler —
              // a failed bound means no match, same as pandas merge_asof
              if (lastMatch != null && keyOrd.compare(lastMatchKey, lKeyProj(l)) == 0 &&
                  tolerance.forall(timeAsLong(lt) - lastMatchTime <= _)) {
                pending = resultProj(joined(l, lastMatch))
                matched = true
              }
            }
            if (!matched && isLeftOuter) {
              pending = resultProj(joined(l, nullRight))
            }
          }
        }

        override def hasNext: Boolean = { computeNext(); pending != null }
        override def next(): InternalRow = {
          computeNext()
          val r = pending; pending = null; r
        }
      }
    }
  }
}
