package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twin of the Poisson-bootstrap CI
  * ([[Events.bootstrapCi]]): purchase rows land as files, each
  * micro-batch mints its 64 per-replicate Poisson weights from `mix64`
  * (stateless projection) and folds into the per-replicate (Σ w·v, Σ w)
  * states — the IDENTICAL [[Events.bootstrapStates]] code, hosted in a
  * complete-mode streaming aggregation whose state is exactly 64 rows.
  * The CI tail ([[Events.bootstrapCiFrom]]) runs at read time over the
  * bounded grid, shared verbatim with batch; StreamingSpec pins
  * stream ≡ batch on the full CI readout.
  *
  * This is the bootstrap's natural deployment at 100 TB: the corpus
  * never re-scans — every arriving row updates 64 integer cells, and
  * the CI is always one 64-row fold away.
  */
object BootstrapIngest {

  /** Running per-replicate states over purchase files at `feedDir`
    * (columns: event_id, v — micro-units). Complete mode; ≤64 rows.
    */
  def monitor(spark: SparkSession, feedDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    Events.bootstrapStates(MicroBatch.source(spark, feedDir, maxFilesPerTrigger))
}
