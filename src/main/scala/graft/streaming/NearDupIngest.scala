package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Dedup

/** Continuous-ingest near-duplicate filtering: the composition a 100 TB
  * training-data pipeline actually runs — documents stream in, each
  * micro-batch is deduplicated against EVERYTHING already accepted, and
  * survivors both land in the output and extend the index.
  *
  * Per micro-batch (foreachBatch — the batch-sink escape hatch, so every
  * step below is ordinary batch DataFrame algebra):
  *
  *  1. scan-side MinHash-LSH banding of the batch
  *     ([[Dedup.bandedSignatures]]: shingle_hashes + minhash_arr native
  *     expressions, 32×2 banding);
  *  2. candidates = band collisions against the persistent band index
  *     (parquet, partition-pruned join on (band, bkey)) ∪ collisions
  *     within the batch;
  *  3. exact Jaccard verification of candidates on stored shingle sets —
  *     LSH recall, exact precision, same contract as the batch operator;
  *  4. verified duplicates drop; survivors append their 32 (doc_id, band,
  *     bkey) rows to the band index, ONE (doc_id, ss, sz) row to the
  *     signature store, and the document row to the output.
  *
  * Within a batch, earlier doc_ids win; a document dedups against ANY
  * earlier near-dup (kept or itself dropped) — the parallel pair-drop
  * convention (no sequential scan), slightly more aggressive than strict
  * keep-first on similarity chains, which Jaccard's non-transitivity
  * makes ambiguous anyway. Across batches, arrival order wins.
  *
  * Scale posture: the index is NORMALIZED (ADVICE r3) — `bands.parquet`
  * carries 32 narrow (doc_id, band, bkey) rows per document while the
  * ~2 KB shingle set lives ONCE per document in `sigs.parquet`, joined
  * in only for the (near-dup-sized) verified-candidate set. Storing the
  * set on every band row would 32× both the index bytes and the band
  * join's shuffle payload. The per-batch join is keyed on (band, bkey)
  * and never touches document text. State lives in the index files, not
  * executor memory, so a restart resumes from the checkpoint + index.
  * Delivery: a replayed batch re-derives the same survivor set
  * (self-collisions are excluded from the index join), and the stream
  * writes both the index stores and the output through
  * [[MicroBatch.write]], so the replay overwrites what its first attempt
  * wrote — exactly-once. An ad-hoc re-run anti-joins the adhoc/legacy
  * index partitions it could have written. A doc ingested by the
  * stream and then re-submitted ad-hoc (mixing paths, not a replay) CAN
  * duplicate index rows — harmless to dedup semantics, every consumer
  * distinct()s.
  */
object NearDupIngest {

  /** Hadoop FS handle for `indexDir` — java.nio only sees the local
    * filesystem, but an index dir may be hdfs:///s3a:// at scale.
    */
  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Batch-side core, exposed for tests and for non-streaming backfills:
    * dedup `batch` against the index at `indexDir` (created on first
    * use), append survivors' signatures, return the surviving documents.
    *
    * `batchId` (present on the streaming path — foreachBatch hands it in)
    * selects the idempotence strategy for the index appends: with an id,
    * each store is partitioned by `ingest_batch` and a replayed batch
    * OVERWRITES its own partition — exactly-once index state with zero
    * reads of the existing store. Without an id (ad-hoc backfill), the
    * append anti-joins the store's pruned doc_id column and lands in the
    * reserved `ingest_batch=adhoc` partition — correct but O(index) per
    * call; fine for a one-off backfill, wrong for a per-batch loop
    * (ADVICE r5).
    *
    * The partition-overwrite idempotence assumes ONE stream (checkpoint)
    * owns an index dir for its lifetime: pointing a FRESH checkpoint at
    * an existing index restarts batch ids at 0 and the new batch 0
    * overwrites the old partition 0's survivors. Keep the (checkpoint,
    * indexDir) pairing stable, or start a new index.
    */
  def processBatch(batch: DataFrame, indexDir: String, tau: Double = 0.5,
      batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val (sig, bands) = Dedup.bandedSignatures(batch)
    val sigB = graft.engine.Materialize.stage(
      sig.select(col("doc_id"), col("ss"), col("sz")))
    val bandsB = graft.engine.Materialize.stage(bands)

    val (fs, idxPath) = fsFor(spark, indexDir)
    val seeded = fs.exists(new org.apache.hadoop.fs.Path(idxPath, "_SEEN"))

    // candidate pairs: (new doc, kept doc) from index collisions, plus
    // (later doc, earlier doc) within the batch — both id-only; the kept
    // side's shingle set joins in from the once-per-doc signature store
    // only AFTER the (band, bkey) collision + distinct shrink the set to
    // near-dup size (the band index itself is narrow keys only, ADVICE r3)
    val vsIndex: Option[DataFrame] =
      if (!seeded) None
      else Some {
        val idx = spark.read.parquet(s"$indexDir/bands.parquet")
        bandsB.as("n").join(idx.as("k"),
            col("n.band") === col("k.band") && col("n.bkey") === col("k.bkey") &&
              // self-exclusion: a batch REPLAY (foreachBatch is at-least-once)
              // sees its own prior index append; without this every replayed
              // doc would self-match at J=1 and vanish
              col("n.doc_id") =!= col("k.doc_id"))
          .select(col("n.doc_id").as("cand"), col("k.doc_id").as("kept"))
          .distinct()
          .join(spark.read.parquet(s"$indexDir/sigs.parquet")
              .select(col("doc_id").as("kept"), col("ss").as("kss"), col("sz").as("ksz")),
            "kept")
      }
    val inBatch = bandsB.as("a").join(bandsB.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("cand"), col("b.doc_id").as("kept"))
      .distinct()
      .join(sigB.select(col("doc_id").as("kept"), col("ss").as("kss"), col("sz").as("ksz")), "kept")
    val cands = vsIndex.map(_.unionByName(inBatch)).getOrElse(inBatch)

    // exact verification on shingle sets: LSH proposes, Jaccard decides.
    // Staged EAGERLY: the plan reads the store's CURRENT file layout,
    // and appendStore below may rename those files (legacy migration) —
    // a lazy dups plan would evaluate mid-append against moved paths
    val dups = graft.engine.Materialize.stage(cands
      .join(sigB.select(col("doc_id").as("cand"), col("ss"), col("sz")), "cand")
      .withColumn("inter", size(array_intersect(col("ss"), col("kss"))).cast("long"))
      .filter(col("inter").cast("double") /
        (col("sz") + col("ksz") - col("inter")) >= tau)
      .select(col("cand").as("doc_id"))
      .distinct())

    // survivors are staged so their blocks stop referencing dups' plan —
    // the per-batch staged frames (dups, sigB, bandsB) can then be
    // RELEASED before returning (ADVICE r7: without the release, the
    // reliable path accumulates DISK_ONLY_2 blocks per micro-batch for
    // the life of the stream, the same leak r3 fixed for iterative
    // loops). Un-persisting dups earlier would be unsafe: a recompute of
    // its plan after appendStore's legacy migration would read moved
    // files (the lineage trap this object documents).
    val survivors = graft.engine.Materialize.stage(
      batch.join(dups, Seq("doc_id"), "left_anti"))
    // normalized index append: 32 narrow band rows per survivor, the
    // ~2 KB shingle set exactly once per survivor. Sigs land FIRST: a
    // crash between the writes then leaves the doc wholly invisible to
    // the index rather than band rows whose verification join finds no
    // signature (the replayed batch re-lands both).
    //
    // Idempotence under foreachBatch's at-least-once replay: with a
    // batchId the store is laid out as <store>/ingest_batch=<id>/ and the
    // replay OVERWRITES its own partition — the once-per-doc invariant
    // holds with no read of the existing index (the r4 anti-join read the
    // whole doc_id column per batch, O(total index) and growing; ADVICE
    // r5). Readers of the parent path see all partitions unioned, and the
    // verification join's (band, bkey) keys are unaffected by the extra
    // partition column (reads select explicit columns).
    def appendStore(rows: DataFrame, store: String): Unit = {
      val path = s"$indexDir/$store"
      val storePath = new org.apache.hadoop.fs.Path(path)
      // one-time migration, on BOTH paths (ADVICE r6 — a streaming batch
      // pointed at a pre-partition store used to write its
      // ingest_batch=<id> dir next to bare root part files, wedging
      // partition discovery for every later read): a store populated by
      // the pre-partition adhoc path carries bare part files at its
      // root; fold them into a legacy partition first (file renames —
      // no data rewrite)
      if (fs.exists(storePath)) {
        val loose = fs.listStatus(storePath).filter(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (loose.nonEmpty) {
          val legacy = new org.apache.hadoop.fs.Path(storePath, "ingest_batch=legacy")
          fs.mkdirs(legacy)
          loose.foreach(s => fs.rename(s.getPath,
            new org.apache.hadoop.fs.Path(legacy, s.getPath.getName)))
        }
      }
      batchId match {
        case Some(id) => MicroBatch.write(rows, path, id)
        case None =>
          // ad-hoc backfills land in a RESERVED partition of the same
          // ingest_batch=<v> layout the streaming path uses — appending
          // bare files at the store root next to partition directories
          // would make Spark's partition discovery reject the whole
          // store ("conflicting directory structures") and wedge the
          // stream. Partition values mix numerals and 'adhoc', so the
          // inferred partition column is a string — readers select
          // explicit columns and never touch it.
          //
          // Idempotence scope (ADVICE r5/r6): an ad-hoc RE-RUN can only
          // have written the adhoc (or migrated legacy) partition, so
          // the anti-join reads exactly those directories — per-call
          // read cost tracks the ad-hoc corpus and stays FLAT as the
          // stream grows the numeric partitions. (A doc ingested by the
          // stream and then re-submitted ad-hoc would duplicate index
          // rows — harmless to dedup semantics, every consumer
          // distinct()s — but that's a caller mixing ingestion paths,
          // not a replay.)
          val fresh = adhocSeenIds(spark, path)
            .map(seen => rows.join(seen, Seq("doc_id"), "left_anti"))
            .getOrElse(rows)
          val staged = graft.engine.Materialize.stage(fresh)
          staged.write.mode("append").parquet(s"$path/ingest_batch=adhoc")
          graft.engine.Materialize.release(staged)
      }
    }
    appendStore(sigB.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("ss"), col("sz")), "sigs.parquet")
    appendStore(bandsB.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("band"), col("bkey")), "bands.parquet")
    val seen = new org.apache.hadoop.fs.Path(idxPath, "_SEEN")
    if (!fs.exists(seen)) fs.create(seen, true).close()
    // index writes done, survivors materialized — nothing references the
    // per-batch staged state any more
    Seq(dups, sigB, bandsB).foreach(graft.engine.Materialize.release)
    survivors
  }

  /** doc_ids already written by the AD-HOC path of a store: reads only
    * the `ingest_batch=adhoc` / `ingest_batch=legacy` partition dirs (a
    * partition-scoped listing — never the stream-grown numeric
    * partitions). None if neither exists yet. Package-visible so the
    * read-cost-stays-flat test can pin which files this consults.
    */
  private[graft] def adhocSeenIds(spark: SparkSession, storePath: String): Option[DataFrame] = {
    val (fs, _) = fsFor(spark, storePath)
    val dirs = Seq("ingest_batch=adhoc", "ingest_batch=legacy")
      .map(p => new org.apache.hadoop.fs.Path(s"$storePath/$p"))
      .filter(fs.exists)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_.toString): _*)
      .select("doc_id").distinct())
  }

  /** The streaming query: file-source documents → per-batch near-dup
    * filter against the growing index → parquet output.
    */
  def start(spark: SparkSession, docsDir: String, indexDir: String,
      outDir: String, checkpointDir: String, tau: Double = 0.5): StreamingQuery = {
    MicroBatch.run(MicroBatch.source(spark, docsDir), checkpointDir) {
      (batch, batchId) =>
        val survivors = processBatch(batch, indexDir, tau, Some(batchId))
        MicroBatch.write(survivors, outDir, batchId)
        // the staged survivors frame is consumed — drop its blocks too,
        // completing the per-batch zero-residue contract (ADVICE r7)
        graft.engine.Materialize.release(survivors)
    }
  }
}
