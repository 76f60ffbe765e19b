package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Quantizer

/** Streaming embedding-cell assignment: the ingest-time twin of the
  * similarity family's coarse quantizer ([[graft.ext.Similarity]]'s
  * KMeans/IVF cells) — every embedding entering the store is routed to
  * its nearest centroid AT INGEST, so downstream ANN probes, per-cell
  * statistics, and cell-partitioned layouts never need a separate
  * assignment pass. Completes the pattern the other ingest twins set:
  * the MODEL is a planning artifact (centroids train per corpus release
  * — here the fixed-point label-means of a reference snapshot, exactly
  * [[graft.ext.Similarity.kmeansStepOn]]'s centroid table), the per-row
  * decision is stateless.
  *
  * The centroids and the assignment are the kernel kmeansStepOn runs
  * ([[graft.ext.Quantizer.centroids]], [[graft.ext.Quantizer.nearest]]):
  * nearest centroid with ties to the smaller cell id, a per-row argmin
  * against one broadcast packed row with NO window function, so it runs
  * on an unbounded stream with no watermark and no state store.
  * StreamingSpec pins stream output ≡ batch kmeansStep on the same
  * corpus and reference.
  */
object CellAssignIngest {

  /** Embeddings stream from `embDir`; centroids freeze from the
    * reference snapshot at `refDir`; (vec_id, cell, dist_fp) rows land
    * in parquet at `outDir`. Stateless stream — Spark's file sink
    * ([[MicroBatch.files]], exactly-once), no foreachBatch needed.
    */
  def start(spark: SparkSession, embDir: String, refDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val cents = Quantizer.centroids(spark.read.parquet(refDir)
        .select(col("label").as("cell"), expr(Quantizer.vfp).as("vfp")), Seq("cell"), "vfp")
      .localCheckpoint(true)
    val batch = MicroBatch.source(spark, embDir)
      .select(col("vec_id"), expr(Quantizer.vfp).as("vfp"))
    MicroBatch.files(
      Quantizer.nearest(batch, "vfp", cents, "cell")
        .select(col("vec_id"), col("cell"), col("dist").as("dist_fp")),
      outDir, checkpointDir)
  }
}
