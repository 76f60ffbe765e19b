package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming twin of [[Events.holtTrend]]: the Holt level+trend monitor
  * maintained at ingest time. State per event type is the HOURLY COUNT
  * MAP — bounded by the observation calendar, not the stream length —
  * and each micro-batch merges its counts and re-emits the monitor
  * readout (level, trend, one-step forecast, warm-up-gated absolute
  * error) by replaying the exact batch fold over the zero-filled
  * configured window.
  *
  * The observation window [loHour, hiHour] is CONFIGURATION (production
  * trend monitors run on a known calendar window); with the window fixed,
  * the final emission per type is bit-equal to the batch operator on the
  * same rows whenever that window matches the batch grid's global span —
  * StreamingSpec pins exactly that. Counts merge additively, which the
  * file source's exactly-once micro-batch semantics make safe; an
  * at-least-once transport would need the CDC-dedup ingest in front.
  */
object HoltTrendIngest {

  case class TypedHour(event_type: String, h: Long)
  /** `n_obs` counts the type's observed rows so far — it strictly grows
    * across emissions, so "the final readout per type" is selectable
    * from an unordered sink (max n_obs); the remaining fields match the
    * batch operator's columns.
    */
  case class HoltRow(event_type: String, level_fp: Long, trend_fp: Long,
    forecast_fp: Long, sae_fp: Long, n_hours: Long, n_obs: Long)

  /** The batch fold ([[Events.holtTrend]]'s aggregate lambda) over one
    * zero-filled hourly series, in Scala: truncating Long division is
    * the same semantics as Spark `div` / DuckDB integer `//`.
    */
  def fold(xs: Seq[Long]): HoltRow = {
    require(xs.nonEmpty, "empty series")
    var l = xs.head * 1000000L
    var b = 0L
    var sae = 0L
    var i = 1L
    xs.tail.foreach { x =>
      val f = l + b
      if (i >= 24) sae += math.abs(x * 1000000L - f)
      val l2 = (x * 1000000L + 3L * f) / 4L
      b = (3L * b + (l2 - l)) / 4L
      l = l2
      i += 1
    }
    HoltRow("", l, b, l + b, sae, i, 0L)
  }

  /** Incremental monitor over a parquet-dir stream of (event_type, h)
    * rows. Update output mode: each micro-batch re-emits the readout of
    * every type it touched.
    */
  def monitor(spark: SparkSession, dir: String, loHour: Long, hiHour: Long,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger).as[TypedHour]
      .groupByKey(_.event_type)
      .mapGroupsWithState[Map[Long, Long], HoltRow](
        GroupStateTimeout.NoTimeout()) { (ty, rows, state) =>
        var m = state.getOption.getOrElse(Map.empty[Long, Long])
        rows.foreach { r =>
          require(r.h >= loHour && r.h <= hiHour,
            s"hour ${r.h} outside the configured window [$loHour, $hiHour]")
          m = m.updated(r.h, m.getOrElse(r.h, 0L) + 1L)
        }
        state.update(m)
        val series = (loHour to hiHour).map(h => m.getOrElse(h, 0L))
        fold(series).copy(event_type = ty, n_obs = m.values.sum)
      }
      .toDF()
  }
}
