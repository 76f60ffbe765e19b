package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming twin of [[Events.hllRolling]]'s sketch side: per-day HLL
  * sketches maintained incrementally as (day, user_id) rows arrive, in
  * mapGroupsWithState keyed by day — the ingest-time form of the
  * mergeable-distinct pattern, where each micro-batch folds into a
  * bounded ~4 KB state per day instead of an ever-growing user set.
  *
  * The state IS the artifact: the emitted rows carry the serialized
  * sketch, and any consumer re-merges day states into 7/28/90-day
  * windows downstream (StreamingSpec does exactly that and pins the
  * estimates equal to the batch `hll_sketch_agg`/`hll_union_agg` path).
  * Parameters mirror the batch side: lgConfigK = 12, HLL_8 target — the
  * defaults of Spark's SQL sketch functions — and `update(Long)` feeds
  * the same DataSketches hashing, so a set-identical stream reproduces
  * the batch estimates exactly. Register-max merging makes the state
  * idempotent under replayed micro-batches (at-least-once safe) and
  * insensitive to arrival order.
  */
object HllRollingIngest {

  case class DayUser(day: String, user_id: Long)
  case class DaySketch(day: String, sketch: Array[Byte])

  /** Incremental per-day sketches over a parquet-dir stream of
    * (day, user_id) rows. Update output mode: each micro-batch re-emits
    * the days it touched with their updated sketch bytes.
    */
  def sketches(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, dir, maxFilesPerTrigger).as[DayUser]
      .groupByKey(_.day)
      .mapGroupsWithState[Array[Byte], DaySketch](
        GroupStateTimeout.NoTimeout()) { (day, rows, state) =>
        val sk = state.getOption
          .map(b => org.apache.datasketches.hll.HllSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(b)))
          .getOrElse(new org.apache.datasketches.hll.HllSketch(12,
            org.apache.datasketches.hll.TgtHllType.HLL_8))
        rows.foreach(r => sk.update(r.user_id))
        val bytes = sk.toUpdatableByteArray
        state.update(bytes)
        DaySketch(day, bytes)
      }
      .toDF()
  }

  /** Merge a set of day-state sketches into one rounded estimate — the
    * downstream window assembly (7-day, 28-day, …) over the emitted
    * states; identical semantics to `hll_sketch_estimate(hll_union_agg)`.
    */
  def mergedEstimate(sketches: Seq[Array[Byte]]): Long = {
    val u = new org.apache.datasketches.hll.Union(12)
    sketches.foreach(b => u.update(
      org.apache.datasketches.hll.HllSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b))))
    Math.round(u.getResult(
      org.apache.datasketches.hll.TgtHllType.HLL_8).getEstimate)
  }
}
