package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming twin of the two-sample drift testers ([[Events.ksTestOn]] /
  * [[Events.mwuTestOn]])'s counts side: per-cent-value (c₁, c₂) pair
  * counts maintained incrementally in mapGroupsWithState keyed by the
  * quantized value. The split midpoint is a FROZEN planning parameter
  * (the [[RakeIngest]] convention — batch derives it from the corpus
  * min/max day, a stream can't know its own future calendar), and the
  * state per value is two longs — bounded by the value domain, never by
  * row volume. Any later assembly re-merges states by addition;
  * [[ksFromStates]]/[[mwuFromStates]] run the SAME integer folds as the
  * batch operators, and StreamingSpec pins stream≡batch on both.
  *
  * Counting is not replay-idempotent, so the twin sits behind an
  * exactly-once source (file source here; [[SnapshotIngest]]'s txn
  * marks in the snapshot-store path). Each emission carries the value's
  * running total — the final state per value is the emission with the
  * largest n.
  */
object TwoSampleIngest {

  case class Ev(d: Long, q: Long)
  case class QState(q: Long, c1: Long, c2: Long)

  def counts(spark: SparkSession, dir: String, mid: Long,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger).as[Ev]
      .groupByKey(_.q)
      .mapGroupsWithState[(Long, Long), QState](
        GroupStateTimeout.NoTimeout()) { (q, rows, state) =>
        var (c1, c2) = state.getOption.getOrElse((0L, 0L))
        rows.foreach(r => if (r.d <= mid) c1 += 1 else c2 += 1)
        state.update((c1, c2))
        QState(q, c1, c2)
      }
      .toDF()
  }

  /** The KS fold over assembled (q, c₁, c₂) states — bit-identical
    * integer semantics to [[Events.ksTestOn]]'s distributed form:
    * (n₁, n₂, v_cents at the sup gap, D_ppm, reject_05).
    */
  def ksFromStates(states: Seq[(Long, Long, Long)]): (Long, Long, Long, Long, Long) = {
    val sorted = states.sortBy(_._1)
    val n1 = sorted.map(_._2).sum
    val n2 = sorted.map(_._3).sum
    var (k1, k2) = (0L, 0L)
    var bestGap = -1L
    var bestQ = 0L
    sorted.foreach { case (q, c1, c2) =>
      k1 += c1; k2 += c2
      val gap = math.abs(k1 * n2 - k2 * n1)
      if (gap > bestGap) { bestGap = gap; bestQ = q }
    }
    val dPpm = (BigInt(bestGap) * 1000000 / (BigInt(n1) * n2)).toLong
    val reject =
      if (BigInt(bestGap).pow(2) * 1000000 >
        BigInt(1843841) * (n1 + n2) * (BigInt(n1) * n2)) 1L else 0L
    (n1, n2, bestQ, dPpm, reject)
  }

  /** The MWU fold over assembled states — bit-identical to
    * [[Events.mwuTestOn]]: (n₁, n₂, 2·U₁, 2·U₂, rank-biserial ppm,
    * reject_05).
    */
  def mwuFromStates(states: Seq[(Long, Long, Long)]): (Long, Long, Long, Long, Long, Long) = {
    val sorted = states.sortBy(_._1)
    val n1 = sorted.map(_._2).sum
    val n2 = sorted.map(_._3).sum
    var kb = 0L
    var twoR1 = 0L
    sorted.foreach { case (_, c1, c2) =>
      val c = c1 + c2
      twoR1 += c1 * (2L * kb + c + 1L)
      kb += c
    }
    val u1x2 = twoR1 - n1 * (n1 + 1L)
    val u2x2 = 2L * n1 * n2 - u1x2
    // BigInt like Events.mwuTestOn's DECIMAL(38,0): the ×10⁶ ratio
    // overflows Long once n₁n₂ > ~9.2e12 (ADVICE r13)
    val rb = ((BigInt(u1x2) - BigInt(n1) * n2) * 1000000 / (BigInt(n1) * n2)).toLong
    val reject =
      if (BigInt(30000) * BigInt(u1x2 - n1 * n2).pow(2) >
        BigInt(38416) * (BigInt(n1) * n2) * (n1 + n2 + 1)) 1L else 0L
    (n1, n2, u1x2, u2x2, rb, reject)
  }
}
