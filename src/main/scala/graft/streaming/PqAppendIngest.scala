package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/** Streaming IVF-PQ index maintenance — the ingest twin of
  * [[graft.ext.Similarity.annIvfPqAppend]]'s micro-batch append,
  * completing the PQ lifecycle the way [[IvfAppendIngest]] completed the
  * coarse one: new embeddings are assigned to the FROZEN coarse
  * quantizer, residual-encoded against the FROZEN per-subspace
  * codebooks, and their posting + code rows land directly in the
  * persisted index parquets — no retrain, no rescan of the standing
  * corpus, no state store. Each micro-batch runs the batch operators
  * themselves — [[graft.ext.Similarity.ivfAssignFrozen]] for the cell,
  * [[graft.ext.Similarity.pqResidualSubs]] and
  * [[graft.ext.Similarity.pqEncodeFrozen]] for the codes, all window-free
  * argmins against broadcast packed artifacts
  * ([[graft.ext.Quantizer.nearest]]). StreamingSpec pins stream-appended
  * codes ≡ batch-appended codes AND identical ADC probes through the
  * shared frozen artifacts.
  */
object PqAppendIngest {

  /** New embeddings stream from `embDir`; the quantizer and codebooks
    * freeze from their persisted parquets; (vec_id, cell, vfp) posting
    * rows APPEND to `idxDir` and (cid, cell, subspace, code) rows to
    * `codesDir` — the same directories the batch-trained index lives
    * in, so an ADC probe of the reload sees base ∪ appended. Plain
    * parquet appends, for the [[IvfAppendIngest]] reasons, so
    * AT-LEAST-ONCE: a replayed batch appends its postings and codes
    * again (StreamingSpec proves it loses no row and adds exactly the
    * replayed batch's rows). A production deployment makes the append
    * exactly-once via [[graft.engine.Snapshots.commitWithTxn]]'s ledger.
    */
  def start(spark: SparkSession, embDir: String, centDir: String,
      cbDir: String, idxDir: String, codesDir: String,
      checkpointDir: String, nSub: Int = 16, subDim: Int = 4): StreamingQuery = {
    val cent = spark.read.parquet(centDir).localCheckpoint(true)
    val cb = spark.read.parquet(cbDir).localCheckpoint(true)
    MicroBatch.run(MicroBatch.source(spark, embDir), checkpointDir) { (batch, _) =>
      val assigned = Similarity.ivfAssignFrozen(batch, cent)
        .localCheckpoint(true)
      assigned.write.mode("append").parquet(idxDir)
      Similarity.pqEncodeFrozen(
          Similarity.pqResidualSubs(assigned, cent, nSub, subDim), cb)
        .drop("err_fp")
        .write.mode("append").parquet(codesDir)
    }
  }
}
