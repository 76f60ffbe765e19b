package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming twin of [[Events.histRollingP95]]'s day-state side:
  * per-day fixed-grid histograms maintained incrementally as
  * (day, value) rows arrive, in mapGroupsWithState keyed by day. The
  * state is the bounded 256-bucket count vector (the same grid as the
  * batch form: width 4.0, bucket 255 open-ended), so a day's state
  * never grows with row volume and any window length re-merges day
  * states downstream by vector addition — StreamingSpec does the 7-day
  * assembly and pins the rank answer equal to the batch query.
  *
  * Counting is NOT replay-idempotent (unlike [[HllRollingIngest]]'s
  * register-max states), so this twin sits behind an exactly-once
  * source (the file source here; [[SnapshotIngest]]'s txn marks in the
  * snapshot-store path). Each emission carries the day's running n —
  * the final state per day is the emission with the largest n.
  */
object HistRollingIngest {

  case class DayValue(day: String, value: Double)
  case class DayHist(day: String, n: Long, counts: Array[Long])

  def histograms(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger).as[DayValue]
      .groupByKey(_.day)
      .mapGroupsWithState[Array[Long], DayHist](
        GroupStateTimeout.NoTimeout()) { (day, rows, state) =>
        val h = state.getOption.getOrElse(new Array[Long](257))
        rows.foreach { r =>
          val b = math.min(255, math.floor(r.value / 4.0).toInt)
          h(b) += 1L
          h(256) += 1L // running n rides in the last slot
        }
        state.update(h)
        DayHist(day, h(256), h.take(256))
      }
      .toDF()
  }

  /** Rank answer over merged day states — the downstream window
    * assembly; identical integer semantics to the batch query's
    * ⌈19n/20⌉ scan.
    */
  def p95(states: Seq[Array[Long]]): (Long, Int) = {
    val m = new Array[Long](256)
    states.foreach(s => (0 until 256).foreach(i => m(i) += s(i)))
    val n = m.sum
    val rank = (19L * n + 19L) / 20L
    var cum = 0L
    var b = 0
    while (b < 256 && cum + m(b) < rank) { cum += m(b); b += 1 }
    (n, b)
  }
}
