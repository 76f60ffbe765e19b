package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming BPE tokenization: the ingest-time twin of
  * [[graft.ext.TextOps.bpeTokenize]] (VERDICT r9 item 7), shaped like
  * [[SurprisalFilter]] — the merge table is a PLANNING ARTIFACT, the
  * per-document replay is stateless.
  *
  * The merge list learns ONCE from a reference corpus snapshot
  * ([[graft.ext.TextOps.bpeLearnOn]] — production loads a pre-trained
  * vocabulary instead) and ships to every micro-batch as a tiny
  * driver-side list (rank-ordered pairs; a real 50k-merge vocabulary is
  * still broadcast-sized). Each arriving document replays the merges
  * over its own token stream — every window in the replay is
  * doc_id-partitioned, so the rewrite is batch-local: no watermark, no
  * state store, and stream output ≡ batch output on the same corpus
  * and merge table by construction (StreamingSpec pins it).
  */
object BpeTokenizeIngest {

  /** Per-batch core, public for tests/backfills: replay the frozen
    * `merges` over `batch`, returning per-document segmentation stats
    * (doc_id, n_tokens, n_bpe, n_merged).
    */
  def processBatch(batch: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.ext.TextOps.bpeApplyOn(batch, merges)

  /** Learn the merge table from the static snapshot at `refDir`, then
    * stream documents from `docsDir`, writing each micro-batch's
    * segmentation stats to `outDir`.
    * Exactly-once under replay: every write goes through [[MicroBatch.write]].
    */
  def start(spark: SparkSession, docsDir: String, refDir: String,
      outDir: String, checkpointDir: String, rounds: Int = 4): StreamingQuery = {
    val merges = graft.ext.TextOps.bpeLearnOn(
        spark.read.parquet(refDir), rounds)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) { (b, id) =>
      MicroBatch.write(processBatch(b, merges), outDir, id)
    }
  }
}
