package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming LM-surprisal quality filtering: the ingest-time twin of
  * [[graft.ext.TextOps.lmSurprisal]], shaped like [[TemperatureMix]] —
  * the model is a PLANNING ARTIFACT, the per-document decision is
  * stateless.
  *
  * The char-trigram model (tri, term_fp) derives ONCE from a reference
  * corpus snapshot ([[graft.ext.TextOps.lmModel]] — production loads a
  * pre-trained KenLM-style table instead) and broadcasts to every
  * micro-batch; each arriving document explodes its own trigrams,
  * scores against the frozen model, and keeps/drops on the threshold.
  * The per-doc groupBy is BATCH-LOCAL (every document's trigrams come
  * from its one row, never across batches), so no watermark and no
  * state store — foreachBatch runs the identical batch plan per
  * micro-batch, and stream output ≡ batch output on the same corpus
  * and model by construction (StreamingSpec pins it).
  *
  * Trigrams unseen in the reference drop out of a document's mean
  * (inner join): a frozen model treats novelty as uninformative. A
  * document whose trigrams are ALL unseen produces no score rows and is
  * dropped — at ingest that is the conservative choice (it is also
  * maximally out-of-distribution for the reference).
  */
object SurprisalFilter {

  /** Per-batch core, public for tests/backfills: score `batch` against
    * the frozen `model`, return surviving rows (keep = 1) with their
    * scores attached.
    */
  def processBatch(batch: DataFrame, model: DataFrame): DataFrame = {
    val scored = graft.ext.TextOps.lmScore(batch, model)
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("surprisal"))
    batch.join(scored, "doc_id")
  }

  /** Documents stream from `docsDir`, model from the static reference
    * snapshot at `refDir`, survivors (with their scores) to parquet at
    * `outDir`. The per-doc score is an aggregation over the document's
    * own exploded trigrams, so the stream runs through foreachBatch
    * (batch-local grouping — no watermark state).
    * Exactly-once under replay: every write goes through [[MicroBatch.write]].
    */
  def start(spark: SparkSession, docsDir: String, refDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val model = graft.ext.TextOps.lmModel(
      spark.read.parquet(refDir)).localCheckpoint(true)
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) { (b, id) =>
      MicroBatch.write(processBatch(b, model), outDir, id)
    }
  }
}
