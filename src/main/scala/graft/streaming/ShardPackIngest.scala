package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.ext.Multimodal.mediaShardPack]]'s LEVEL-1
  * prefix sum: a training pipeline repacks shards as curated data LANDS,
  * not in a nightly batch, and the packing fold is a prefix-sum monoid,
  * so it lifts into ingest state cleanly.
  *
  * Decomposition (mirrors the batch operator's two-level chunked scan):
  *  - level 1 (HERE, incremental): state is keyed by the 1024-id chunk
  *    and holds that chunk's (media_id → byte-length) map — HARD-bounded
  *    at 1024 entries per key by the chunk arithmetic itself, whatever
  *    the corpus. Each micro-batch merges its items and re-emits the
  *    chunk's recomputed within-chunk offsets.
  *  - level 2 (read time, bounded): the carry over chunk TOTALS plus the
  *    shard-key fold — [[graft.ext.Multimodal.shardManifestFromPre]],
  *    shared verbatim with the batch operator, applied to the sink's
  *    final per-chunk emissions (StreamingSpec pins stream ≡ batch).
  *
  * Because a chunk's state is its complete id→bytes map, the final
  * emission per chunk is order-independent — bit-equal to the batch
  * within-chunk window on the same rows regardless of arrival order or
  * file interleaving. Items shuffle once, keyed by chunk (corpus/1024
  * groups — parallel, no singleton hotspot), and only (id, byte-length)
  * pairs move; payloads stay at rest.
  */
object ShardPackIngest {

  case class ItemObs(chunk: Long, media_id: Long, n: Long)
  /** Within-chunk offset row; n_seen lets a reader pick each chunk's
    * final (most complete) emission. */
  case class ChunkPre(chunk: Long, media_id: Long, n: Long, pre: Long,
    n_seen: Long)

  def monitor(spark: SparkSession, filesDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    MicroBatch.source(spark, filesDir, maxFilesPerTrigger)
      // same byte metric as docsAsMedia's payload: the text's UTF-8 bytes
      .select(expr("doc_id div 1024").as("chunk"),
        col("doc_id").as("media_id"),
        length(col("text").cast("binary")).cast("long").as("n"))
      .as[ItemObs]
      .groupByKey(_.chunk)
      .flatMapGroupsWithState[Map[Long, Long], ChunkPre](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (chunk, rows, state) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach(r => m = m.updated(r.media_id, r.n))
          state.update(m)
          // recompute the chunk's within-chunk offsets (≤1024 entries)
          val ids = m.keys.toSeq.sorted
          var acc = 0L
          ids.iterator.map { id =>
            val n = m(id)
            val row = ChunkPre(chunk, id, n, acc, m.size.toLong)
            acc += n
            row
          }
      }
      .toDF()
  }
}
