package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming boilerplate-prefix flagging: the ingest-time twin of
  * [[graft.ext.TextOps.boilerplatePrefix]] (VERDICT r9 item 7). The
  * batch operator is a corpus-wide census (which prefixes repeat, per
  * source); the ingest-time question is per-document — "does THIS
  * document open with a prefix already known to be boilerplate?" —
  * which is per-row deterministic given the learned table, shaped like
  * [[TemperatureMix]]/[[SurprisalFilter]].
  *
  * The boilerplate table ((source, prefix) groups of size ≥ 2) derives
  * ONCE from a reference corpus snapshot and broadcast-joins against
  * every micro-batch; each arriving document computes its own 8-token
  * prefix key scan-side and gains a `boilerplate` 0/1 flag. Stateless —
  * no watermark, no state store — and on the training corpus itself
  * the flag totals per source equal the batch census's `n_shared`
  * exactly (StreamingSpec pins it).
  */
object BoilerplateIngest {

  /** The learned table: (source, pk) pairs whose prefix group has ≥ 2
    * documents in the reference corpus.
    */
  def model(reference: DataFrame, nTokens: Int = 8): DataFrame =
    prefixed(reference, nTokens)
      .groupBy(col("source"), col("pk"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("source"), col("pk"))

  private def prefixed(documents: DataFrame, nTokens: Int): DataFrame =
    documents.withColumn("pk",
      concat_ws(" ", slice(split(col("text"), " "), 1, nTokens)))

  /** Per-batch core, public for tests/backfills: flag each document in
    * `batch` whose (source, 8-token prefix) appears in the frozen
    * `boilerplate` table.
    */
  def processBatch(batch: DataFrame, boilerplate: DataFrame,
      nTokens: Int = 8): DataFrame =
    prefixed(batch, nTokens).as("d")
      .join(broadcast(boilerplate.withColumn("hit", lit(1L))).as("m"),
        Seq("source", "pk"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("hit"), lit(0L)).as("boilerplate"))

  /** Model from the static snapshot at `refDir`, documents streamed
    * from `docsDir`, per-document flags to `outDir`.
    * Exactly-once under replay: every write goes through [[MicroBatch.write]].
    */
  def start(spark: SparkSession, docsDir: String, refDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val m = model(spark.read.parquet(refDir)).localCheckpoint(true)
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) { (b, id) =>
      MicroBatch.write(processBatch(b, m), outDir, id)
    }
  }
}
