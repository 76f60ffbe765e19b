package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming twin of [[Events.sloBurn]]: the multi-window burn-rate
  * pager maintained at ingest time — the form this alert actually runs
  * in production (paging off a batch job defeats the 1 h window).
  * State is ONE group (a singleton key) holding the hourly
  * (n, err) map — bounded by the observation calendar, not the stream —
  * and each micro-batch merges its counts and re-emits the full burn
  * table under the identical fold.
  *
  * Because the state is the complete hourly map, the FINAL emission is
  * bit-equal to the batch operator on the same rows regardless of
  * arrival order (StreamingSpec pins it). The singleton key is safe at
  * any scale because the events are combined BEFORE the shuffle: state
  * operators get no automatic map-side combine, so a `mapPartitions`
  * pass reduces each input partition to its hourly (h, n, err) partials
  * first (ADVICE r11) — what reaches the one group is ≤ |hours| rows
  * per partition per micro-batch, counts, never raw events.
  */
object SloBurnIngest {

  case class HourObs(h: Long, is_err: Long)
  /** Per-partition hourly partial: n events, err errors in hour h. */
  case class HourAgg(h: Long, n: Long, err: Long)
  case class BurnRow(h: Long, n: Long, err: Long, burn1_milli: Long,
    burn6_milli: Long, page: Int, n_obs: Long)

  /** The batch fold over the complete hourly map, in Scala (truncating
    * Long division ≡ Spark `div` ≡ DuckDB `//`). */
  def fold(m: Map[Long, (Long, Long)]): Seq[BurnRow] = {
    val hours = m.keys.toSeq.sorted
    val tot = m.values.map(_._1).sum
    hours.map { h =>
      val (n, err) = m(h)
      val w6 = (h - 5 to h).flatMap(m.get)
      val (n6, err6) = (w6.map(_._1).sum, w6.map(_._2).sum)
      val b1 = (err * 1000000L / n) / 10L
      val b6 = (err6 * 1000000L / n6) / 10L
      BurnRow(h, n, err, b1, b6, if (b1 >= 14400L && b6 >= 6000L) 1 else 0, tot)
    }
  }

  def monitor(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger)
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .as[HourObs]
      // manual map-side combine: state ops get none, so without this
      // every raw event row would shuffle to the singleton group
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        it.foreach { r =>
          val (n, e) = acc.getOrElse(r.h, (0L, 0L))
          acc(r.h) = (n + 1L, e + r.is_err)
        }
        acc.iterator.map { case (h, (n, e)) => HourAgg(h, n, e) }
      }
      .groupByKey(_ => 0) // singleton monitor: state = the hourly map
      .flatMapGroupsWithState[Map[Long, (Long, Long)], BurnRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state) =>
          var m = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
          rows.foreach { r =>
            val (n, e) = m.getOrElse(r.h, (0L, 0L))
            m = m.updated(r.h, (n + r.n, e + r.err))
          }
          state.update(m)
          fold(m).iterator
      }
      .toDF()
  }
}
