package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Snapshots

/** Streaming PQ codebook RETRAIN — the drift gate's consumer running
  * against a LIVE feed, completing the streaming maintenance story
  * ([[PqAppendIngest]] streams the append, [[CellSplitIngest]] the
  * rebalance; this streams the retrain trigger of
  * [[graft.ext.Similarity.annIvfPqRetrain]]): every micro-batch of new
  * embeddings routes to the frozen coarse quantizer, residual-encodes
  * against the CURRENT published codebooks, and ledger-appends postings
  * + codes (exactly-once via [[Snapshots.commitWithTxn]]); then the
  * drift gate compares THIS batch's per-(subspace, code) mean residual
  * error against the standing population's, and when a subspace's
  * flagged-code share is MATERIAL (≥25% of its codes — the batch op's
  * rule), its codebook retrains from ALL current residuals
  * and publishes as a new snapshot version; the standing codes of the
  * retrained subspaces re-encode in the same maintenance step (a
  * replace commit, which preserves the txn ledger — stream appends
  * survive the rewrite). Later batches encode against the LATEST
  * published codebooks automatically.
  *
  * Replay semantics: the APPENDS are exactly-once
  * ([[Snapshots.commitWithTxn]] — a replayed id stages nothing), and
  * the RETRAIN is exactly-once PER BATCH ID too, via the same ledger:
  * the swap's final publish rides [[Snapshots.commitReplaceWithTxn]],
  * so a replayed batch finds the `appId-retrain` mark covered and
  * skips the gate entirely. The ledger — not the drift metric — is
  * what ends the episode, deliberately: a drifted batch's rows encode
  * with their own (larger) error profile under ANY codebook, so
  * re-evaluating drift against the clean base would re-fire forever.
  * The swap is two publishes (codes re-encode first, codebooks last
  * with the mark); a crash between them replays the WHOLE retrain —
  * same inputs, same rebuilt codebooks, convergent state — because the
  * mark rides the final publish (the [[CellSplitIngest]] rule: pick
  * the publish order whose crash window recovery repairs).
  *
  * Scale shape per micro-batch: two broadcast-artifact scans of the
  * batch (quantizer argmin, codebook argmin), one ledgered append, and
  * a (subspace, code)-keyed aggregate of the standing codes table — the
  * err_fp column rides the code table precisely so the gate never
  * touches raw vectors. The retrain itself (rare) reads the flagged
  * subspaces' residuals once and rewrites the KB-sized codebook
  * artifact plus those subspaces' codes.
  */
object PqRetrainIngest {

  /** One retrain decision + rebuild over the CURRENT tables, factored
    * for direct testing. `batchCodes` is this batch's freshly-encoded
    * (cid, cell, subspace, code, err_fp) frame; standing codes are read
    * from `codesTable` (which, post-append, already includes them — the
    * base population is standing-minus-batch by cid anti-join). Returns
    * the retrained subspace ids (empty when the gate does not fire).
    */
  def maybeRetrain(spark: SparkSession, batchCodes: DataFrame,
      assignTable: String, codesTable: String, cbTable: String,
      centTable: String, appId: String, batchId: Long, nSub: Int,
      subDim: Int, nCodes: Int, pqIters: Int): Seq[Int] = {
    val sim = graft.ext.Similarity
    // a batch whose trigger already published is done — the gate is not
    // re-evaluated (see the replay-semantics note above)
    if (Snapshots.lastTxn(spark, cbTable, s"$appId-retrain")
        .exists(_ >= batchId)) return Seq.empty
    val standing = Snapshots.read(spark, codesTable)
    val base = standing.join(batchCodes.select(col("cid").as("bcid")).distinct(),
        col("cid") === col("bcid"), "left_anti")
    val gate = sim.pqHealthGate(
      base.select(col("subspace"), col("code"), col("err_fp"))
        .withColumn("src", lit(0L))
        .unionByName(batchCodes
          .select(col("subspace"), col("code"), col("err_fp"))
          .withColumn("src", lit(1L))))
      .localCheckpoint(true)
    val shares = gate.groupBy(col("subspace"))
      .agg(sum(col("retrain")).as("nf"), count(lit(1)).as("nc"))
      .withColumn("share_bp", expr("nf * 10000L div nc"))
    // the batch op's decision rule verbatim — the materiality floor
    // (≥25% of the subspace's codes flagged) is what makes the
    // streaming loop CONVERGENT: a relative outlier rule would promote
    // stray codes against a near-zero global share on every quiet
    // batch, and suppress all but the biggest subspace when several
    // drift at once — retraining one random subspace per batch forever
    val flagged = shares.filter(expr("share_bp >= 2500L"))
      .select(col("subspace")).collect().map(_.getInt(0)).sorted.toSeq
    if (flagged.isEmpty) return flagged
    import spark.implicits._
    val fl = broadcast(flagged.toDF("fsub"))
    // rebuild from ALL current residuals of the flagged subspaces
    val cent = Snapshots.read(spark, centTable)
    val subs = sim.pqResidualSubs(
        Snapshots.read(spark, assignTable), cent, nSub, subDim)
      .join(fl, col("subspace") === col("fsub")).drop("fsub")
      .localCheckpoint(true)
    val rebuilt = sim.pqTrainCodebooks(subs, pqIters, nCodes)
      .localCheckpoint(true)
    // standing codes of the retrained subspaces re-encode FIRST (a
    // replace preserves the txn ledger — stream appends survive), then
    // the codebook swap publishes LAST carrying the retrain mark: a
    // crash between the two replays the whole retrain from the same
    // inputs; once the mark lands, replays skip the gate entirely
    Snapshots.commit(
      Snapshots.read(spark, codesTable)
        .join(fl, col("subspace") === col("fsub"), "left_anti")
        .unionByName(sim.pqEncodeFrozen(subs, rebuilt)),
      codesTable, append = false)
    Snapshots.commitReplaceWithTxn(
      Snapshots.read(spark, cbTable)
        .join(fl, col("csub") === col("fsub"), "left_anti")
        .unionByName(rebuilt),
      cbTable, s"$appId-retrain", batchId)
    flagged
  }

  /** The per-batch sink body: route + encode against the CURRENT
    * published artifacts, ledger-append postings and codes, then run
    * the gate. Returns the retrained subspaces (empty = no fire or
    * replayed/empty batch with no drift left). */
  def ingestBatch(batch: DataFrame, assignTable: String, codesTable: String,
      cbTable: String, centTable: String, appId: String, batchId: Long,
      nSub: Int = 16, subDim: Int = 4, nCodes: Int = 32,
      pqIters: Int = 2): Seq[Int] = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return Seq.empty
    val assigned = graft.ext.Similarity.ivfAssignFrozen(batch,
        Snapshots.read(spark, centTable).localCheckpoint(true))
      .localCheckpoint(true)
    val batchCodes = graft.ext.Similarity.pqEncodeFrozen(
        graft.ext.Similarity.pqResidualSubs(assigned,
          Snapshots.read(spark, centTable), nSub, subDim),
        Snapshots.read(spark, cbTable))
      .localCheckpoint(true)
    Snapshots.commitWithTxn(assigned, assignTable, appId, batchId)
    Snapshots.commitWithTxn(batchCodes, codesTable, s"$appId-codes", batchId)
    maybeRetrain(spark, batchCodes, assignTable, codesTable, cbTable,
      centTable, appId, batchId, nSub, subDim, nCodes, pqIters)
  }

  /** Embeddings stream → exactly-once appends + in-stream retrain
    * trigger against the versioned artifact tables. */
  def start(spark: SparkSession, embDir: String, assignTable: String,
      codesTable: String, cbTable: String, centTable: String,
      checkpointDir: String, appId: String): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, embDir, Some(1)), checkpointDir) {
      (batch, batchId) =>
        ingestBatch(batch, assignTable, codesTable, cbTable, centTable,
          appId, batchId)
    }
  }
}
