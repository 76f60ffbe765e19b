package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of the delta-join view maintenance
  * ([[graft.queries.Warehouse.q107MvJoinDelta]] /
  * [[graft.queries.Warehouse.q110MvJoinZset]]): a CDC feed lands signed
  * delta LINES (mult ∈ {+1, −1}) as files; each micro-batch
  * stream-static joins them against the standing dimensions (orders for
  * the month key, part for the brand — the ΔS⋈R₀ term of the delta
  * algebra, R₀ never rescanned beyond the joined keys) and folds them
  * into the running signed view state, which Structured Streaming's
  * complete-mode aggregation maintains incrementally — the z-set monoid
  * IS the agg state, so arrival order and file interleaving are
  * irrelevant.
  *
  * Read-time merge with the PERSISTED standing view v0 is
  * [[graft.queries.Warehouse.zsetMerge]], shared verbatim with the
  * batch operator — StreamingSpec pins stream ⊕ v0 ≡ batch on the
  * merged view, cell for cell.
  *
  * Scale shape: the stream side is micro-batch-sized; the static join
  * keys on l_orderkey (orders pruned to two columns) with the part dim
  * broadcast; agg state is one row per live (ym, brand) cell.
  */
object MvJoinIngest {

  /** Running signed delta state over the delta-line files at `deltaDir`
    * (columns: l_orderkey, l_partkey, q, r, mult). Emits the view-state
    * schema (ym, p_brand, mv_cnt, mv_qty, mv_rev_c) in complete mode.
    */
  def monitor(spark: SparkSession, deltaDir: String, orders: DataFrame,
      parts: DataFrame, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    MicroBatch.source(spark, deltaDir, maxFilesPerTrigger)
      .join(orders, "l_orderkey")          // stream-static: ΔS ⋈ R₀
      .join(broadcast(parts), "l_partkey") // dim broadcast
      .groupBy(col("ym"), col("p_brand"))
      .agg(sum(col("mult")).as("mv_cnt"),
        sum(expr("mult * q")).as("mv_qty"),
        sum(expr("mult * r")).as("mv_rev_c"))
  }
}
