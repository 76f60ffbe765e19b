package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.sources.Formats

/** Format round-trips (graft.sources.Formats) + the word_ngrams
  * expression backing the n-gram operators.
  */
class SourcesSpec extends SparkSpecBase {

  test("word_ngrams: sorted distinct grams, split-compatible tokenization") {
    def g(text: String, n: Int): Seq[String] =
      spark.sql(s"SELECT word_ngrams('$text', $n) AS g").head().getSeq[String](0)
    assert(g("a b c", 2) == Seq("a b", "b c"))
    // repeats dedupe; output is sorted
    assert(g("a b a b", 2) == Seq("a b", "b a"))
    assert(g("a b c", 1) == Seq("a", "b", "c"))
    assert(g("a b c", 3) == Seq("a b c"))
    // fewer tokens than n → empty
    assert(g("a", 2) == Seq.empty)
    // double space yields an empty token, same as split(text, ' ')
    assert(g("a  b", 2) == Seq(" b", "a "))
  }

  test("word_ngrams agrees with the explode+window bigram construction") {
    val docs = Tables.load(spark, sf(), "documents")
    val viaExpr = docs
      .select(col("doc_id"), explode(expr("word_ngrams(text, 2)")).as("ngram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val viaWindow = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      .select(col("doc_id"),
        concat_ws(" ", col("t"), lead("t", 1).over(w)).as("ngram"),
        lead("t", 1).over(w).as("w1"))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("ngram")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaExpr == viaWindow,
      s"diff: ${(viaExpr diff viaWindow).take(5)} / ${(viaWindow diff viaExpr).take(5)}")
  }

  test("JSONL and ORC round-trips preserve every byte (md5 extrema match source)") {
    val dir = sf()
    val viaJson = Formats.jsonlRoundtrip(spark, dir).collect().toSeq
    val directLang = Tables.load(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_len"),
        sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text").cast("binary"))).as("min_md5"),
        max(md5(col("text").cast("binary"))).as("max_md5"))
      .orderBy(col("lang")).collect().toSeq
    assert(viaJson == directLang)

    val viaOrc = Formats.orcRoundtrip(spark, dir).collect().toSeq
    val directSrc = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("sum_len"),
        min(md5(col("text").cast("binary"))).as("min_md5"),
        max(md5(col("text").cast("binary"))).as("max_md5"))
      .orderBy(col("source")).collect().toSeq
    assert(viaOrc == directSrc)
  }

  test("compaction rewrites a fragmented directory into size-targeted files") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables.load(spark, sf("0.01"), "documents")
    val base = graft.engine.WorkDirs.processScoped("graft_test_compact")
    val frag = s"$base/frag"
    val comp = s"$base/comp"
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    def parquetFiles(path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    val fragFiles = parquetFiles(frag)
    assert(fragFiles.size == 64)
    val totalBytes = fragFiles.map(_.getLen).sum
    val target = totalBytes / 4 // force a 4-file-ish layout from real sizes
    val n = graft.sources.Formats.compactTo(spark, frag, comp, target)
    val compFiles = parquetFiles(comp)
    assert(compFiles.size == n && n < 64 && n >= 4, s"n=$n files=${compFiles.size}")
    // content-neutral: same rows, same bytes
    val a = docs.agg(count(lit(1)), sum(col("n_chars")),
      min(md5(col("text").cast("binary"))), max(md5(col("text").cast("binary")))).head
    val b = spark.read.parquet(comp).agg(count(lit(1)), sum(col("n_chars")),
      min(md5(col("text").cast("binary"))), max(md5(col("text").cast("binary")))).head
    assert(a == b)
  }

  test("partitioned and range layouts change cost, never results") {
    val dir = sf()
    val viaPart = Formats.partitionedPrune(spark, dir).collect().toSeq
    val directPart = Tables.load(spark, dir, "documents")
      .filter(col("lang").isin("en", "fr"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"), col("source")).collect().toSeq
    assert(viaPart == directPart)

    val viaZ = Formats.zorderLayout(spark, dir).collect().toSeq
    val directZ = Tables.load(spark, dir, "events")
      .filter(col("user_id") % 256 < 32 &&
        dayofmonth(col("ts")) >= 10 && dayofmonth(col("ts")) < 20)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(viaZ == directZ)

    val viaRange = Formats.rangeLayout(spark, dir).collect().toSeq
    val directRange = Tables.load(spark, dir, "events")
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(viaRange == directRange)
  }

  test("partition evolution: merged flat+partitioned read prunes directories, never results") {
    val dir = sf()
    val base = java.nio.file.Files.createTempDirectory("graft_pevo").toString
    val (flat, part) = (s"$base/flat", s"$base/bylang")
    val d = Tables.load(spark, dir, "documents")
    d.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(flat)
    d.filter(col("doc_id") % 2 === 1).write.mode("overwrite")
      .partitionBy("lang").parquet(part)
    val merged = Formats.partitionEvolutionReadback(spark, flat, part)
    // the partitioned half's lang predicate lands in PartitionFilters
    // (directory-level pruning — inputFiles lists pre-pruning, so the
    // plan line is the honest signal, the PlanSpec partitionedPrune
    // pattern)
    val plan = merged.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("lang") &&
      (l.contains("IN (en,fr") || l.contains("in(lang"))), plan.take(1500))
    // layout must never change results
    val direct = d.filter(col("lang").isin("en", "fr"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("source")).collect().toSeq
    assert(merged.collect().toSeq == direct)
  }

  test("hilbert layout: read-back matches canonical; day-band probe prunes files a 1-dim sort cannot") {
    val dir = sf()
    val viaH = Formats.hilbertLayout(spark, dir).collect().toSeq
    val directH = Tables.load(spark, dir, "events")
      .filter(col("user_id") % 256 >= 64 && col("user_id") % 256 < 96 &&
        dayofmonth(col("ts")) >= 10 && dayofmonth(col("ts")) < 20)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"))
      .orderBy(col("event_type")).collect().toSeq
    assert(viaH == directH)
    // curve index is the exact xy2d walk (spot squares: corners + center)
    assert(Formats.hilbertXy2d(256, 0, 0) == 0L)
    assert(Formats.hilbertXy2d(256, 255, 0) == 65535L) // curve ends at (n-1,0)
    // unit-step property on a sample: consecutive d differ by one move
    val inv = (for (x <- 0 until 16; y <- 0 until 16)
      yield Formats.hilbertXy2d(16, x, y) -> ((x, y))).toMap
    (0L until 255L).foreach { d =>
      val (x1, y1) = inv(d); val (x2, y2) = inv(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
    // pruning: a DAY-band probe (day in [10,20)) against per-file
    // (user-bucket, day) envelopes — the 1-dim user-sorted layout puts
    // every day in every file (prunes nothing); Hilbert files are
    // compact curve blobs, so some file envelopes miss the band
    val base = java.nio.file.Files.createTempDirectory("graft_hilb").toString
    Formats.hilbertWrite(spark, dir, s"$base/hilbert")
    Tables.load(spark, dir, "events")
      .repartitionByRange(8, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.mode("overwrite").parquet(s"$base/bysort")
    def filesIntersectingDayBand(path: String): Int =
      spark.read.parquet(path).inputFiles.count { f =>
        val st = spark.read.parquet(f)
          .agg(min(dayofmonth(col("ts"))), max(dayofmonth(col("ts")))).head
        !(st.getInt(1) < 10 || st.getInt(0) >= 20)
      }
    val hil = filesIntersectingDayBand(s"$base/hilbert")
    val srt = filesIntersectingDayBand(s"$base/bysort")
    val total = spark.read.parquet(s"$base/hilbert").inputFiles.length
    assert(srt == spark.read.parquet(s"$base/bysort").inputFiles.length,
      "1-dim sort prunes nothing on the day band")
    assert(hil < total, s"hilbert should prune: $hil of $total")
    assert(hil < srt, s"hilbert ($hil) must beat the 1-dim sort ($srt)")
  }
}
