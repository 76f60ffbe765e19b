package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/** Streaming IVF index maintenance — the ingest twin of
  * [[graft.ext.Similarity.annIvfAppend]]'s micro-batch append (VERDICT
  * r13 item 5): new embeddings entering the store are assigned to the
  * FROZEN coarse quantizer (the persisted centroid parquet — the model
  * artifact, trained once per corpus release) and their (vec_id, cell,
  * vfp) posting rows land directly in the index parquet, so the ANN
  * index stays current without ever retraining or rescanning the
  * standing corpus. The per-row decision is the batch operator itself,
  * [[graft.ext.Similarity.ivfAssignFrozen]]: a stateless argmin against
  * the broadcast packed quantizer ([[graft.ext.Quantizer.nearest]]), so
  * the stream needs no watermark and no state store. StreamingSpec pins
  * stream-appended index ≡ batch-appended index.
  */
object IvfAppendIngest {

  /** New embeddings stream from `embDir`; the quantizer freezes from the
    * persisted centroid parquet at `centDir`; (vec_id, cell, vfp)
    * posting rows APPEND to the index parquet at `idxDir` — the same
    * directory the batch-trained index lives in, so a probe of the
    * reload sees base ∪ appended. The sink is a plain parquet append,
    * NOT the streaming parquet sink: the sink's `_spark_metadata` log
    * would make every batch read of `idxDir` ignore the pre-existing
    * base-index files; nor [[MicroBatch.write]]: an `ingest_batch=`
    * directory next to the base index's flat files breaks partition
    * discovery. AT-LEAST-ONCE: a replayed batch appends its postings
    * again (StreamingSpec proves it loses no row and adds exactly the
    * replayed batch's rows). A production deployment makes the append
    * exactly-once by riding [[graft.engine.Snapshots.commitWithTxn]]'s
    * ledger.
    */
  def start(spark: SparkSession, embDir: String, centDir: String,
      idxDir: String, checkpointDir: String): StreamingQuery = {
    val cent = spark.read.parquet(centDir).localCheckpoint(true)
    MicroBatch.run(Similarity.ivfAssignFrozen(MicroBatch.source(spark, embDir), cent),
        checkpointDir) { (batch, _) =>
      batch.write.mode("append").parquet(idxDir)
    }
  }
}
