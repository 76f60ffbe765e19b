package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming temperature-based corpus mixing: the ingest-time twin of
  * [[graft.ext.TextOps.mixTemperature]] (VERDICT r8 item 5).
  *
  * The α-mixing recipe — per-domain keep-thresholds ∝ √n_d against the
  * corpus budget — is computed ONCE from a reference corpus snapshot
  * ([[graft.ext.TextOps.mixThresholds]]), exactly how a pretraining
  * data pipeline runs it: the recipe is a planning artifact (domain
  * stats change slowly; re-derive it per snapshot release), the
  * keep/drop decision is per-row and deterministic (low 20 bits of
  * splitmix64(doc_id) under the domain threshold), so it belongs at
  * ingest where dropped documents never cost downstream storage or
  * compute. Stateless stream: no watermark, no state store — a
  * broadcast |domains|-row join plus a codegen'd filter in the scan,
  * the same plan shape per micro-batch as the batch operator over the
  * whole corpus. Stream output ≡ batch output on the same corpus by
  * construction (the decision depends only on (doc_id, lang) and the
  * shared recipe), which StreamingSpec pins.
  *
  * Composes with the rest of the intake: [[Decontaminate]] in front,
  * [[NearDupIngest]] behind — mixing first is the cheap filter that
  * shrinks everything downstream.
  */
object TemperatureMix {

  /** Start the mixing ingest: documents stream from `docsDir`, the
    * recipe derives from the static snapshot at `recipeDir` (typically
    * the same corpus the stream replays, or the previous corpus
    * release), survivors land in parquet at `outDir`.
    */
  def start(spark: SparkSession, docsDir: String, recipeDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val thresholds = graft.ext.TextOps.mixThresholds(
      spark.read.parquet(recipeDir)).localCheckpoint(true)
    MicroBatch.files(mixed(MicroBatch.source(spark, docsDir), thresholds),
      outDir, checkpointDir)
  }

  /** The per-batch frame a custom sink would consume (foreachBatch
    * composition with e.g. [[SnapshotIngest]]): same recipe application,
    * caller owns the sink.
    */
  def mixed(docs: DataFrame, thresholds: DataFrame): DataFrame =
    graft.ext.TextOps.mixApply(docs, thresholds).drop("t")
}
