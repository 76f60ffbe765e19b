package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one micro-batch runner behind every streaming twin: the parquet
  * file source, the AvailableNow `foreachBatch` runner, Spark's own
  * parquet file sink, and the idempotent per-batch write.
  *
  * Delivery contract. Structured Streaming re-runs an uncommitted batch
  * (same id, same input files) on restart, so a `foreachBatch` body is
  * at-least-once. A body whose every write goes through [[write]] is
  * exactly-once: the replay overwrites the partition its first attempt
  * wrote. [[files]] is exactly-once through the sink's `_spark_metadata`
  * log. Twins that append elsewhere say so in their docstrings.
  */
object MicroBatch {

  /** Per-(application, directory) schema cache: the probe costs one
    * parquet footer fetch per stream SETUP, and streams built over the
    * same directory (stream-stream joins, restarts, the test suite) would
    * pay it again for an immutable schema. ASSUMES the directory's schema
    * is immutable while cached — the file-stream contract anyway (readers
    * bind one schema for the query's life). A directory REWRITTEN with a
    * different schema under the same path must call
    * [[invalidateSchemaCache]] first; keying by application keeps one
    * app's probe from leaking into a restarted session's.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

  /** Drop the cached schema for `dir` (all applications) — call after
    * rewriting a directory in place with a different schema.
    */
  def invalidateSchemaCache(dir: String): Unit =
    schemaCache.keySet.removeIf(_._2 == dir)

  /** Parquet file stream over the DIRECTORY `dir` (the file source needs
    * a directory, unlike the batch reader), optionally capped at
    * `maxFilesPerTrigger` files per micro-batch.
    */
  def source(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = schemaCache.computeIfAbsent(
      (spark.sparkContext.applicationId, dir),
      key => spark.read.parquet(key._2).schema)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Run `fold(batch, batchId)` over every micro-batch of `stream` until
    * the data available at start is consumed (Trigger.AvailableNow).
    */
  def run(stream: DataFrame, checkpointDir: String)(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[Row], id: Long) => fold(b, id))
      .trigger(Trigger.AvailableNow())
      .start()

  /** Spark's parquet file sink at `outDir` (AvailableNow): exactly-once
    * through its `_spark_metadata` log, so readers of `outDir` never see
    * a half-written or replayed batch. Batch readers of `outDir` see ONLY
    * the files that log lists.
    */
  def files(stream: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .format("parquet")
      .trigger(Trigger.AvailableNow())
      .start()

  /** The idempotent per-batch append: `rows` OVERWRITE
    * `dir/ingest_batch=<batchId>`, so a replayed batch replaces what its
    * first attempt wrote instead of adding to it, with no read of `dir`.
    * Readers of `dir` see every batch's partition unioned (plus an
    * `ingest_batch` partition column). Assumes ONE stream (checkpoint)
    * owns `dir`: a fresh checkpoint restarts ids at 0 and overwrites.
    */
  def write(rows: DataFrame, dir: String, batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(s"$dir/ingest_batch=$batchId")
}
