package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming twin of [[Events.seasonalAnomaly]]: the seasonality-aware
  * anomaly monitor maintained at ingest time. State per (iso_dow, hour)
  * cell is the DAY → COUNT map — bounded by the observation calendar
  * (|weeks| entries per cell, 168 cells), not the stream length — and
  * each micro-batch merges its counts and re-emits the cell's full flag
  * set under the recomputed robust median/MAD baseline.
  *
  * Because the state is the complete day/count map, the FINAL emission
  * per cell is bit-equal to the batch operator on the same rows
  * regardless of arrival order — StreamingSpec pins that. Counts merge
  * additively (file-source exactly-once); an at-least-once transport
  * would need the CDC-dedup ingest in front ([[HoltTrendIngest]]'s
  * convention).
  */
object SeasonalAnomalyIngest {

  case class CellObs(iso_dow: Long, hh: Long, day: String)
  /** `n_obs` strictly grows per cell, so the final readout is selectable
    * from an unordered sink (max n_obs per cell). */
  case class AnomalyRow(iso_dow: Long, hh: Long, day: String, n: Long,
    med: Long, mad: Long, anomaly: Int, n_obs: Long)

  /** The batch operator's discrete median/MAD flag rule over one cell's
    * complete day map, in Scala (element_at(sorted, (n+1) div 2)). */
  def flags(m: Map[String, Long]): Seq[(String, Long, Long, Long, Int)] = {
    val vals = m.values.toSeq.sorted
    val med = vals((vals.length + 1) / 2 - 1)
    val devs = m.values.map(v => math.abs(v - med)).toSeq.sorted
    val mad = devs((devs.length + 1) / 2 - 1)
    m.toSeq.map { case (day, n) =>
      (day, n, med, mad,
        if (math.abs(n - med) > 3L * math.max(mad, 1L)) 1 else 0)
    }
  }

  /** Incremental monitor over a parquet-dir stream of raw events.
    * Update output mode: each micro-batch re-emits every flag row of
    * every cell it touched.
    */
  def monitor(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger)
      .select(
        expr("((dayofweek(ts) + 5) % 7) + 1").cast("long").as("iso_dow"),
        hour(col("ts")).cast("long").as("hh"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .as[CellObs]
      .groupByKey(c => (c.iso_dow, c.hh))
      .flatMapGroupsWithState[Map[String, Long], AnomalyRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cell, rows, state) =>
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          rows.foreach(r => m = m.updated(r.day, m.getOrElse(r.day, 0L) + 1L))
          state.update(m)
          val tot = m.values.sum
          flags(m).map { case (day, n, med, mad, a) =>
            AnomalyRow(cell._1, cell._2, day, n, med, mad, a, tot)
          }.iterator
      }
      .toDF()
  }
}
