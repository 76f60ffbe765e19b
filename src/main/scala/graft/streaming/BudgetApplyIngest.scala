package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming token-budget application: the ingest-time twin of
  * [[graft.ext.TextOps.tokenBudgetApply]], shaped like
  * [[TemperatureMix]] — the budget PLAN (per-source epoch rates) is a
  * planning artifact derived once from a corpus snapshot
  * ([[graft.ext.TextOps.tokenBudgetPlanOf]]); the per-document copy
  * count is stateless and deterministic (whole epochs + the
  * splitmix64-thresholded fractional tail), so it belongs at ingest
  * where a 0-copy document never costs downstream storage. Stateless
  * stream: broadcast |sources|-row plan + codegen'd arithmetic in the
  * scan, no watermark, no state store; stream output ≡ batch output on
  * the same corpus and plan by construction (StreamingSpec pins it).
  */
object BudgetApplyIngest {

  /** Documents stream from `docsDir`, the plan derives from the static
    * snapshot at `recipeDir`; rows with ≥ 1 copy land at `outDir` with
    * their `n_copies` attached (the downstream packer replicates).
    */
  def start(spark: SparkSession, docsDir: String, recipeDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val plan = graft.ext.TextOps.tokenBudgetPlanOf(
      spark.read.parquet(recipeDir)).localCheckpoint(true)
    MicroBatch.files(
      graft.ext.TextOps.tokenBudgetApplyWith(MicroBatch.source(spark, docsDir), plan)
        .filter(col("n_copies") >= 1),
      outDir, checkpointDir)
  }
}
