package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Snapshots

/** Exactly-once streaming ingest into the versioned snapshot store —
  * the composition of the two subsystems a production lakehouse pipeline
  * actually runs as one unit: Structured Streaming micro-batches land as
  * optimistic snapshot commits, and the store's manifest doubles as the
  * stream's idempotence ledger.
  *
  * The delivery gap this closes: `foreachBatch` is AT-LEAST-once. The
  * sink body runs, then the checkpoint's commit log records the batch;
  * a crash between the two replays the batch with the same id on
  * restart. A plain `Snapshots.commit` sink (the r7 StreamingSpec shape)
  * would append the replayed rows twice. [[Snapshots.commitWithTxn]]
  * writes the data batch AND a `T <appId> <batchId>` mark in the same
  * atomic manifest publish, so the replay finds its id covered and skips
  * — the check and the commit cannot be separated by a crash, which is
  * exactly the property a checkpoint-external idempotence map (a file of
  * seen ids next to the table) cannot give.
  *
  * Scale posture: per micro-batch the cost is one parquet write of the
  * batch plus one manifest read/publish (KBs) — no read of the table.
  * Independent streams ingest into one table under distinct `appId`s;
  * concurrent batch writers interleave safely through the same
  * optimistic-commit loop. Downstream consumers time-travel or `diff`
  * between versions for incremental processing.
  */
object SnapshotIngest {

  /** The per-batch sink body — public so tests (and non-streaming
    * replays/backfills) drive the exact code the stream runs. Returns
    * the committed version, or None when `batchId` is already covered
    * for `appId` (replay) or the batch is empty.
    */
  def ingestBatch(batch: DataFrame, tableDir: String, appId: String,
      batchId: Long): Option[Int] =
    if (batch.isEmpty) None
    else Snapshots.commitWithTxn(batch, tableDir, appId, batchId)

  /** File-source stream → exactly-once versioned table at `tableDir`.
    * `appId` names this stream in the table's txn ledger; keep it stable
    * across restarts of the same logical pipeline (the checkpoint
    * carries the batch ids, the appId scopes them).
    */
  def start(spark: SparkSession, docsDir: String, tableDir: String,
      checkpointDir: String, appId: String,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, docsDir, Some(maxFilesPerTrigger)),
        checkpointDir) { (batch, batchId) =>
      ingestBatch(batch, tableDir, appId, batchId)
    }
  }
}
