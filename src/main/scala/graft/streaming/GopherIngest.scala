package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Gopher-rule filtering: the ingest-time twin of
  * [[graft.ext.TextOps.gopherRules]]. The rule battery is fully
  * per-document (even the top-token count groups only within a
  * document's own tokens), so every decision is batch-local — no
  * model, no watermark, no state store; foreachBatch runs the
  * identical batch plan per micro-batch, and stream output ≡ batch
  * output on the same corpus by construction (StreamingSpec pins it).
  *
  * This is the rule-based FIRST stage of an ingest-time quality
  * cascade ([[SurprisalFilter]] being the model-based second): cheap
  * integer arithmetic rejects the bulk before any model scores, which
  * is exactly the ordering a 100 TB crawl needs (rules run at scan
  * speed; the model stage sees only survivors).
  */
object GopherIngest {

  /** Per-batch core, public for tests/backfills: survivors (keep = 1)
    * with their audit columns (rule bitmap + fail count) attached.
    */
  def processBatch(batch: DataFrame): DataFrame =
    graft.ext.TextOps.gopherRulesOn(batch)
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("n_tokens"), col("rule_bits"))

  /** Documents stream from `docsDir`; survivors to parquet at `outDir`.
    * Exactly-once under replay: every write goes through [[MicroBatch.write]].
    */
  def start(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) { (b, id) =>
      MicroBatch.write(processBatch(b), outDir, id)
    }
  }
}
