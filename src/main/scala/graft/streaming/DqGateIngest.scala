package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming data-quality gate: the ingest-time twin of
  * [[Events.dqGate]]. Every micro-batch runs the identical per-row
  * constraint bitmap ([[Events.dqGateRows]] — scan-side integer
  * arithmetic, no state, no watermark), routes clean rows to the main
  * output and violating rows (with their bitmap, for triage) to a
  * quarantine sink. Because every decision is row-local, stream output
  * ≡ batch output on the same corpus by construction — StreamingSpec
  * pins both the row split and the census.
  *
  * This is the FIRST stage a 100 TB event pipeline wants: malformed
  * rows never reach the sessionizers/aggregators downstream, and the
  * quarantine keeps them inspectable instead of silently dropped.
  * Exactly-once under replay: every write goes through [[MicroBatch.write]].
  */
object DqGateIngest {

  /** Per-batch core, public for tests/backfills: (clean, quarantined). */
  def processBatch(batch: DataFrame): (DataFrame, DataFrame) = {
    val flagged = Events.dqGateRows(batch)
    (flagged.filter(col("keep") === 1).drop("viol_bits", "keep"),
      flagged.filter(col("keep") === 0).drop("keep"))
  }

  def start(spark: SparkSession, eventsDir: String, outDir: String,
      quarantineDir: String, checkpointDir: String): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, eventsDir), checkpointDir) { (b, id) =>
      val (clean, bad) = processBatch(b)
      MicroBatch.write(clean, outDir, id)
      MicroBatch.write(bad, quarantineDir, id)
    }
  }
}
