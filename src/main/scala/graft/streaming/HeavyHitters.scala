package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming heavy hitters over a document stream via sharded
  * Misra–Gries summaries — the continuous form of the batch CMS heavy
  * hitters ([[graft.ext.TextOps.heavyHitters]]): a vocabulary monitor
  * that never stores the vocabulary.
  *
  * Tokens shard by hash (a token lives entirely in ONE shard), and each
  * shard maintains a classic Misra–Gries summary of `capacity` counters
  * in flatMapGroupsWithState: hit → increment; miss with room → insert;
  * miss without room → decrement ALL (dropping zeros). State is
  * O(shards × capacity) whatever the stream length or vocabulary —
  * the property a 100 TB ingest needs — and shards scale the operator
  * horizontally like any keyed state.
  *
  * The MG deterministic guarantee (any processing order, any micro-batch
  * boundaries): with n_s tokens seen by a shard, every token with true
  * count > n_s/(capacity+1) IS in the summary, its estimate
  * under-counts by at most n_s/(capacity+1), and estimates never
  * overestimate. StreamingSpec pins exactly those bounds against batch
  * exact counts on a skewed corpus (order-dependence is inherent to MG,
  * so the contract is the bound, not row equality — the ANN-recall
  * grading style).
  *
  * Each micro-batch re-emits the shard's current summary (update mode);
  * the row with the highest n_s per shard is the final one.
  */
object HeavyHitters {

  case class TokIn(shard: Int, token: String)
  case class MgState(n: Long, counters: Map[String, Long])
  case class MgRow(shard: Int, token: String, est: Long, n_s: Long)

  /** The sharded token stream: shard = hash(token) mod nShards, so all
    * occurrences of a token meet in one summary.
    */
  def tokenStream(spark: SparkSession, docsDir: String, nShards: Int,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    MicroBatch.source(spark, docsDir, maxFilesPerTrigger)
      .select(explode(split(col("text"), " ")).as("token"))
      .select(pmod(xxhash64(col("token")), lit(nShards)).cast("int").as("shard"),
        col("token"))
  }

  def summaries(spark: SparkSession, docsDir: String, nShards: Int,
      capacity: Int, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    tokenStream(spark, docsDir, nShards, maxFilesPerTrigger).as[TokIn]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[MgState, MgRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout()) {
        (shard, toks, state) =>
          val st = state.getOption.getOrElse(MgState(0L, Map.empty))
          var n = st.n
          val m = scala.collection.mutable.Map[String, Long](st.counters.toSeq: _*)
          toks.foreach { t =>
            n += 1
            m.get(t.token) match {
              case Some(c) => m(t.token) = c + 1
              case None if m.size < capacity => m(t.token) = 1L
              case None =>
                // the MG step: a full summary and a miss decrement
                // EVERY counter; zeros evict
                m.keys.toSeq.foreach { k =>
                  val c = m(k) - 1
                  if (c == 0L) m.remove(k) else m(k) = c
                }
            }
          }
          state.update(MgState(n, m.toMap))
          m.toSeq.sortBy(_._1)
            .map { case (tok, c) => MgRow(shard, tok, c, n) }.iterator
      }
      .toDF()
  }
}
