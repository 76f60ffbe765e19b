package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming decontamination: the stream-static twin of
  * [[graft.ext.TextOps.contaminationBloom]]. Documents stream in; each
  * micro-batch drops documents containing any probe n-gram (an
  * eval-suite decontamination set), survivors land in parquet.
  *
  * The probe set is compressed ONCE on the driver into a serialized
  * BloomFilter that rides into the scan as a binary literal — the same
  * two-tier shape as the batch operator: `bloom_might_contain` inside
  * an `exists` over the scan-side `word_ngrams` grams gives a cheap
  * per-document might-contain verdict with no join and no shuffle, and
  * only might-contain documents pay the exact `arrays_overlap` against
  * the literal probe array (no bloom false negatives ⇒ keep-set is
  * EXACT). At a real 10⁸-entry probe set the exact tier becomes a
  * broadcast semi-join against the probe table; the bloom tier is
  * unchanged — that's the part that must stay scan-side at 100 TB.
  *
  * Stateless stream (a pure filter): no watermark, no state store;
  * exactly the operator you compose IN FRONT of the stateful near-dup
  * ingest ([[NearDupIngest]]) in a production intake.
  */
object Decontaminate {

  /** The filter itself, usable on batch or streaming frames alike.
    * Probes may mix n-gram lengths: grams are generated once per
    * DISTINCT probe length (a probe that isn't a bigram previously
    * could never match — contaminated documents passed silently).
    */
  def clean(docs: DataFrame, probes: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // normalize probes to single-space token joins FIRST: word_ngrams
    // emits single-space grams, so a probe with a tab or double space
    // would land in the right length group yet never equal any gram —
    // the silent-pass bug, one normalization away
    val norm = probes.map(_.trim.split("\\s+").toSeq)
      .filter(ts => ts.nonEmpty && ts.head.nonEmpty)
      .map(ts => (ts.length, ts.mkString(" ")))
    // checked AFTER normalization: an all-whitespace probe list would
    // otherwise pass a probes.nonEmpty check and blow up in the
    // groupBy(...).reduce below with an opaque empty.reduceLeft
    require(norm.nonEmpty, "no non-empty probes after normalization")
    val bloom = norm.map(_._2).toDF("probe").stat.bloomFilter("probe",
      math.max(norm.size.toLong, 64L), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // ONE bound binary literal shared by every length group (never SQL
    // text — a 10⁸-probe/GB filter would overflow the parser; and never
    // one lit per group, which would serialize the filter once per
    // distinct length into every task)
    val bloomLit = lit(bytes)
    val hit = norm.groupBy(_._1).map { case (n, ps) =>
      val grams = call_function("word_ngrams", col("text"), lit(n))
      val might = exists(grams,
        x => call_function("bloom_might_contain", bloomLit, x))
      might && arrays_overlap(grams, array(ps.map(p => lit(p._2)): _*))
    }.reduce(_ || _)
    docs.filter(!hit)
  }

  def start(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String, probes: Seq[String]): StreamingQuery = {
    MicroBatch.files(clean(MicroBatch.source(spark, docsDir), probes),
      outDir, checkpointDir)
  }
}
