package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming span-decontamination: the ingest-time twin of
  * [[graft.ext.TextOps.overlapSpans]] — THE place the GPT-3 N-token
  * rule actually runs in a pipeline (benchmarks are fixed; training
  * documents arrive continuously and each must be span-checked before
  * admission).
  *
  * The eval suite's positional k-gram table is the PLANNING ARTIFACT:
  * built ONCE from a reference snapshot
  * ([[graft.ext.TextOps.overlapEvalGrams]]) and probed by every
  * micro-batch. A document's spans depend only on its own grams and the
  * frozen table — the diagonal gaps-and-islands core is entirely
  * doc_id-partitioned — so the scoring is batch-local: no watermark, no
  * state store, and stream ≡ batch on the same corpus and suite by
  * construction (StreamingSpec pins it). Eval documents themselves
  * (doc_id ≡ 0 mod 50 in the fixture) are excluded from scoring, as in
  * the batch operator.
  */
object OverlapSpanIngest {

  /** Per-batch core, public for tests/backfills: each contaminated
    * document's longest shared span, the eval doc achieving it, and its
    * ≥ flagSpan count, against the frozen `evalGrams` table.
    */
  def processBatch(batch: DataFrame, evalGrams: DataFrame, k: Int = 5,
      evalMod: Int = 50, flagSpan: Int = 8): DataFrame =
    graft.ext.TextOps.overlapSpanScore(
      graft.ext.TextOps.overlapCorpusGrams(
        batch.filter(col("doc_id") % evalMod =!= 0), k),
      evalGrams, k, flagSpan)

  /** Eval grams from the static snapshot at `refDir`, documents streamed
    * from `docsDir`, per-document contamination rows to `outDir`.
    * Exactly-once under replay: every write goes through [[MicroBatch.write]].
    */
  def start(spark: SparkSession, docsDir: String, refDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val evalGrams = graft.ext.TextOps.overlapEvalGrams(
      spark.read.parquet(refDir)).localCheckpoint(true)
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) { (b, id) =>
      MicroBatch.write(processBatch(b, evalGrams), outDir, id)
    }
  }
}
