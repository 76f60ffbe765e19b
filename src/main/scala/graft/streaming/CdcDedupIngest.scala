package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming content-defined-chunking dedup: the ingest-time twin of
  * [[graft.ext.Multimodal.mediaCdcDedupOn]] (VERDICT r8 item 7),
  * composed with the exactly-once snapshot sink ([[SnapshotIngest]]).
  *
  * CDC boundaries depend only on a payload's OWN bytes (the rolling
  * mix64 window), so chunk sets compute per micro-batch with zero
  * cross-batch state beyond the chunk INDEX of previously kept
  * payloads: new payloads chunk scan-side, candidates come from an
  * inverted-index join on chunk hash (id-only — payload bytes never
  * join), and chunk-Jaccard ≥ τ against any earlier payload (kept
  * cross-batch, any earlier-id within the batch — [[NearDupIngest]]'s
  * parallel pair-drop convention; across batches arrival order wins)
  * drops the newcomer. Survivors append their chunk rows to the index
  * and land in a versioned snapshot table.
  *
  * Exactly-once end to end under foreachBatch's at-least-once replay:
  * the index append goes through [[MicroBatch.write]], and the table
  * commit rides [[graft.engine.Snapshots.commitWithTxn]] — a replayed
  * micro-batch re-derives the same survivors, rewrites the same index
  * partition, and finds its txn mark already covered, touching nothing.
  *
  * Scale posture: the index is narrow (media_id, ch) rows plus a
  * (media_id, sz) sizes store — chunk hashes, never payload bytes; the
  * per-batch join is keyed on the chunk hash and shuffles ids only.
  * State lives in index files, not executor memory; a restart resumes
  * from checkpoint + index + table, all three replay-consistent.
  */
object CdcDedupIngest {

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Per-batch core, public for tests/backfills: dedup `batch` (schema
    * must carry `media_id`, `payload`) against the chunk index at
    * `indexDir`, append survivors' chunks, return the surviving rows.
    */
  def processBatch(batch: DataFrame, indexDir: String, mask: Int = 64,
      tau: Double = 0.5, batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val chunks = graft.engine.Materialize.stage(
      graft.ext.Multimodal.cdcChunks(batch, mask))
    val sizes = chunks.groupBy(col("media_id")).agg(count(lit(1)).as("sz"))

    val (fs, idxPath) = fsFor(spark, indexDir)
    val seeded = fs.exists(new org.apache.hadoop.fs.Path(idxPath, "_SEEN"))

    def jaccardDrops(pairs: DataFrame, keptSizes: DataFrame): DataFrame =
      pairs.groupBy(col("cand"), col("kept")).agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("media_id").as("cand"), col("sz").as("sza")), "cand")
        .join(keptSizes.select(col("media_id").as("kept"), col("sz").as("szb")), "kept")
        .filter(col("shared").cast("double") /
          (col("sza") + col("szb") - col("shared")) >= tau)
        .select(col("cand").as("media_id"))

    val vsIndex: Option[DataFrame] =
      if (!seeded) None
      else Some {
        val idx = spark.read.parquet(s"$indexDir/chunks.parquet")
          .select(col("media_id").as("kept"), col("ch"))
        val idxSizes = spark.read.parquet(s"$indexDir/sizes.parquet")
          .select(col("media_id"), col("sz"))
        jaccardDrops(
          chunks.select(col("media_id").as("cand"), col("ch"))
            // self-exclusion: a replayed batch sees its own prior index
            // append; without this every replayed payload self-matches
            .join(idx, Seq("ch")).filter(col("cand") =!= col("kept")),
          idxSizes)
      }
    val inBatch = jaccardDrops(
      chunks.select(col("media_id").as("cand"), col("ch")).as("a")
        .join(chunks.select(col("media_id").as("kept"), col("ch")).as("b"), Seq("ch"))
        .filter(col("cand") > col("kept")),
      sizes)
    val dups = graft.engine.Materialize.stage(
      vsIndex.map(_.unionByName(inBatch)).getOrElse(inBatch).distinct())

    val survivors = graft.engine.Materialize.stage(
      batch.join(dups, Seq("media_id"), "left_anti"))

    def appendStore(rows: DataFrame, store: String): Unit = batchId match {
      case Some(id) => MicroBatch.write(rows, s"$indexDir/$store", id)
      case None =>
        rows.write.mode("append").parquet(s"$indexDir/$store/ingest_batch=adhoc")
    }
    // sizes land FIRST (the NearDupIngest ordering argument): a crash
    // between the writes leaves the payload invisible to the Jaccard
    // join rather than chunk rows with no size behind them
    appendStore(sizes.join(dups, Seq("media_id"), "left_anti"), "sizes.parquet")
    appendStore(chunks.join(dups, Seq("media_id"), "left_anti"), "chunks.parquet")
    val seen = new org.apache.hadoop.fs.Path(idxPath, "_SEEN")
    if (!fs.exists(seen)) fs.create(seen, true).close()
    Seq(dups, chunks).foreach(graft.engine.Materialize.release)
    survivors
  }

  /** File-source media stream → CDC near-dup filter against the growing
    * chunk index → exactly-once versioned snapshot table at `tableDir`.
    */
  def start(spark: SparkSession, mediaDir: String, indexDir: String,
      tableDir: String, checkpointDir: String, appId: String,
      mask: Int = 64, tau: Double = 0.5,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, mediaDir, Some(maxFilesPerTrigger)),
        checkpointDir) { (b, id) =>
      val survivors = processBatch(b, indexDir, mask, tau, Some(id))
      SnapshotIngest.ingestBatch(survivors, tableDir, appId, id)
      graft.engine.Materialize.release(survivors)
    }
  }
}
