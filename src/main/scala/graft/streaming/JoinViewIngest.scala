package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twin of the q115 JOIN-view maintenance
  * ([[graft.queries.Warehouse.q115MvRewriteJoin]] answers from the view;
  * this keeps it fresh): new fact (lineitem) rows land as files, and
  * each micro-batch stream-static joins the standing orders side and
  * folds into the [[graft.engine.MatView.joinRegistry]] grain — the
  * aggregation is the IDENTICAL [[graft.engine.MatView.aggregateJoin]]
  * code the batch build runs, hosted in a complete-mode streaming
  * aggregation. The states (row count, exact-cents revenue sum) are
  * abelian sums, so arrival order and file interleaving are irrelevant.
  *
  * Read-time merge with the persisted view is
  * [[graft.engine.MatView.applyDeltaJoin]] — one group-sum over the
  * union, never a base-join re-run; StreamingSpec pins stream ⊕ v0 ≡
  * the full batch view, cell for cell.
  *
  * Scale shape: the stream side is micro-batch-sized; the static side
  * joins on the order key (pruned to key + its two dims); agg state is
  * one row per live (returnflag, status, priority) cell.
  */
object JoinViewIngest {

  /** Running delta state over new-lineitem files at `deltaDir`, joined
    * to the standing `right` (orders) side. Emits the view-state schema
    * (dims…, mv_cnt, mv_sum_price_cents) in complete mode.
    */
  def monitor(spark: SparkSession, deltaDir: String, right: DataFrame,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.engine.MatView.aggregateJoin(
      MicroBatch.source(spark, deltaDir, maxFilesPerTrigger), right,
      graft.engine.MatView.joinRegistry("lineitem_orders"))
}
