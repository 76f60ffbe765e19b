package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.{Events, MicroBatch}

/** Structured Streaming twins must agree with their batch forms: run the
  * streaming pipeline with Trigger.AvailableNow into a memory sink and
  * compare against the batch query on the same files.
  */
class StreamingSpec extends SparkSpecBase {

  /** The file stream source needs a directory; stage the single events
    * parquet file into one.
    */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  /** Newest committed batch id in checkpoint `ckpt`. */
  private def lastCommit(ckpt: String): Long =
    new java.io.File(ckpt, "commits").list()
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max

  /** Crash harness: deletes the newest `ckpt/commits/<id>` and its
    * `.crc` — the state a crash after the batch's data write and before
    * its commit leaves — then restarts the twin, waits for it, and checks
    * that the batch committed again. Returns the replayed batch id.
    */
  private def replayLastBatch(ckpt: String)(restart: => StreamingQuery): Long = {
    val id = lastCommit(ckpt)
    val commits = new java.io.File(ckpt, "commits")
    assert(new java.io.File(commits, id.toString).delete())
    new java.io.File(commits, s".$id.crc").delete()
    restart.awaitTermination(180000)
    assert(new java.io.File(commits, id.toString).exists(), s"batch $id did not re-commit")
    id
  }

  /** Row multiset: each distinct row with its count, duplicates kept. */
  private def rowBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def bagUnion(a: Map[Seq[Any], Int], b: Map[Seq[Any], Int]): Map[Seq[Any], Int] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap

  /** Part files under `dir`, as paths relative to it. */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  /** Input files of batch `id`, from the file source's log in `ckpt`. */
  private def batchInputs(ckpt: String, id: Long): Seq[String] = {
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt, "sources", "0", id.toString)), "UTF-8")
    "\"path\":\"([^\"]+)\"".r.findAllMatchIn(log).map(_.group(1)).toSeq
  }

  /** Replay check for twins that write through `MicroBatch.write`: the
    * replay rewrites the batch's `ingest_batch=<id>` part files in every
    * output dir, and every output keeps its row multiset.
    */
  private def assertReplayRewrites(ckpt: String, outDirs: String*)(
      restart: => StreamingQuery): Unit = {
    val id = lastCommit(ckpt)
    def parts(d: String) = dataFiles(d).filter(_.startsWith(s"ingest_batch=$id/"))
    val before = outDirs.map(d => (rowBag(spark.read.parquet(d)), parts(d)))
    replayLastBatch(ckpt)(restart)
    outDirs.zip(before).foreach { case (d, (bag, files)) =>
      assert(rowBag(spark.read.parquet(d)) == bag, s"$d: rows changed on replay")
      val now = parts(d)
      assert(now.nonEmpty && (now intersect files).isEmpty,
        s"$d/ingest_batch=$id not rewritten: before=$files after=$now")
    }
  }

  /** Replay check for twins on Spark's file sink: output rows and part
    * files are unchanged.
    */
  private def assertReplayUnchanged(ckpt: String, outDir: String)(
      restart: => StreamingQuery): Unit = {
    val (bag, files) = (rowBag(spark.read.parquet(outDir)), dataFiles(outDir))
    replayLastBatch(ckpt)(restart)
    assert(rowBag(spark.read.parquet(outDir)) == bag, s"$outDir: rows changed on replay")
    assert(dataFiles(outDir) == files, s"$outDir: files changed on replay")
  }

  test("streaming windowed counts == batch windowed counts (sf0.001)") {
    val q = Events.streamingWindowedCounts(spark, eventsDir)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_counts").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Events.windowedCounts(spark, sf()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("mapGroupsWithState per-user stats == batch groupBy on final state") {
    val q = Events.streamingUserStats(spark, eventsDir)
      .writeStream.format("memory").queryName("user_stats")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // last update per user is the final state
    val streamed = spark.table("user_stats")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.engine.Tables.load(spark, sf(), "events")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionize matches batch session_window (closed sessions)") {
    import org.apache.spark.sql.functions._
    val q = Events.streamingSessionize(spark, eventsDir)
      .writeStream.format("memory").queryName("fmgs_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table("fmgs_sessions")
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    // Batch truth. Every streamed session must match a batch session
    // exactly; the only sessions allowed to be missing from the stream
    // are each user's final one (it may stay open in state if the last
    // watermark didn't pass its gap — timeout firing depends on how
    // AvailableNow advances the watermark).
    val batch = Events.sessionize(spark, sf())
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val batchSet = batch.toSet
    val lastPerUser = batch.groupBy(_._1).map { case (u, xs) => (u, xs.map(_._2).max) }.toSet
    val missing = batchSet -- streamed
    assert((streamed -- batchSet).isEmpty,
      s"streamed sessions not in batch truth: ${(streamed -- batchSet).take(5)}")
    assert(missing.forall(x => lastPerUser.contains((x._1, x._2))),
      s"non-final sessions missing from stream: ${missing.filterNot(x => lastPerUser.contains((x._1, x._2))).take(5)}")
    assert(streamed.size >= batchSet.size - lastPerUser.size)
  }

  test("sessionize reconciles under late (out-of-order) events across micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._

    // Controlled corpus, seconds offset from t0; watermark delay is 1 min,
    // session gap 5 min. Pass 1 processes file A (max ts = +120 → watermark
    // +60); pass 2 delivers LATE events at +70 — older than data already
    // processed, but above the watermark, so a correct implementation must
    // accept them: u1's +70 lands inside the open session [0, 120] (n 2→3),
    // and u3's +70 lands BEFORE its open session start (+100), which must
    // move the session start backwards, exactly like batch session_window.
    val t0 = 1700000000L
    def ev(id: Long, uid: Long, sec: Long): (Long, Long, String, Long, Double) =
      (id, uid, "click", (t0 + sec) * 1000000000L, 1.0) // ts in parquet nanos
    val fileA = Seq(ev(1, 1, 0), ev(2, 1, 120), ev(3, 3, 100))
    val fileB = Seq(ev(4, 1, 70), ev(5, 3, 70), ev(6, 1, 1000), ev(7, 1, 1060), ev(8, 1, 3000))
    val fileC = Seq(ev(9, 2, 4000)) // sentinel: its batch fires pending timeouts
    val all = fileA ++ fileB ++ fileC
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")

    val inDir = java.nio.file.Files.createTempDirectory("graft_late_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_late_ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_late_out").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_late_all").toString
    all.toDF(cols: _*).coalesce(1).write.mode("overwrite")
      .parquet(s"$batchDir/events.parquet")

    def runPass(rows: Seq[(Long, Long, String, Long, Double)], part: Int): Unit = {
      // the file source needs FLAT files in the watched dir: write to a
      // scratch dir, move the part file in as batchN.parquet
      val scratch = java.nio.file.Files.createTempDirectory("graft_late_w")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part0 = java.nio.file.Files.list(scratch).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(java.nio.file.Paths.get(part0),
        java.nio.file.Paths.get(s"$inDir/batch$part.parquet"))
      val q = Events.streamingSessionize(spark, inDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }
    runPass(fileA, 0); runPass(fileB, 1); runPass(fileC, 2)

    val streamed = spark.read.parquet(outDir)
      .select(col("user_id"), col("session_start"), col("n_events"), col("total"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
    assert(streamed.length == streamed.toSet.size, "duplicate session emissions")
    val streamedSet = streamed.toSet

    // Batch truth over the SAME complete corpus
    val batch = Events.sessionize(spark, batchDir)
      .select(col("user_id"), col("session_start"), col("n_events"), col("total"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
    val batchSet = batch.toSet
    val lastPerUser = batch.groupBy(_._1).map { case (u, xs) => (u, xs.map(_._2).max) }.toSet

    // every streamed session is batch truth, late events included
    assert((streamedSet -- batchSet).isEmpty,
      s"streamed sessions diverge from batch: ${(streamedSet -- batchSet).take(5)}")
    // only each user's final session may still be open in state
    val missing = batchSet -- streamedSet
    assert(missing.forall(x => lastPerUser.contains((x._1, x._2))),
      s"non-final sessions missing: ${missing.filterNot(x => lastPerUser.contains((x._1, x._2))).take(5)}")
    // the late events demonstrably reconciled: u1's first session counts
    // the +70 event; u3's session start moved back to +70
    assert(streamedSet.contains((1L, t0 * 1000L, 3L, 3.0)),
      s"u1 late event not merged: $streamedSet")
    assert(streamedSet.contains((3L, (t0 + 70) * 1000L, 2L, 2.0)),
      s"u3 session start not extended backwards: $streamedSet")
  }

  test("drift chi-square: proportional days score zero, a skewed day scores high") {
    import spark.implicits._
    val t0 = java.time.LocalDate.of(2024, 5, 1)
    def ev(id: Long, dayOff: Int, typ: String, k: Int) = (0 until k).map(j =>
      (id * 1000 + j, 1L, typ,
        t0.plusDays(dayOff).atTime(8, 0).plusMinutes(j).toInstant(java.time.ZoneOffset.UTC)
          .getEpochSecond * 1000000000L, 1.0))
    // days 0 and 1: identical 10 click / 5 view mix; day 2: all clicks
    val rows = ev(1, 0, "click", 10) ++ ev(2, 0, "view", 5) ++
      ev(3, 1, "click", 10) ++ ev(4, 1, "view", 5) ++
      ev(5, 2, "click", 15)
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Events.driftChi2(spark, dir).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // corpus mix: 35 click / 10 view. Days 0-1 deviate mildly from it,
    // identically (same composition → same statistic); the all-click
    // day must score strictly higher than either
    assert(r("2024-05-01") == r("2024-05-02"), r.toString)
    assert(r("2024-05-03")._2 > r("2024-05-01")._2, r.toString)
    assert(r.values.forall(_._2 >= 0L))
  }

  test("streaming drift cells == batch chi2 (complete-mode grid, scored on final state)") {
    // the sf0.001 events table through the streaming contingency
    // aggregation, scored with the SAME helper the batch operator uses —
    // stream ≡ batch for the monitoring query a pipeline actually leaves
    // running
    val q = Events.streamingDriftCells(spark, eventsDir)
      .writeStream.format("memory").queryName("drift_cells")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // localCheckpoint: the scoring self-joins the grid three ways, and
    // the analyzer cannot dedup attribute ids across a MemoryPlan view —
    // snapshotting the O(days×types) grid sidesteps it for pennies
    val streamed = Events.driftChi2FromCells(
      spark.table("drift_cells").localCheckpoint(true))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val batch = Events.driftChi2(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming hourly cells == batch bursts (complete-mode grid, scored on final state)") {
    // the burst monitor's streaming half: hourly (type, hr) counts in
    // complete mode, episodes scored from the sink's final grid with
    // the SAME helper the batch operator uses — stream ≡ batch for the
    // alerting query a traffic monitor leaves running
    val q = Events.streamingHourlyCells(spark, eventsDir)
      .writeStream.format("memory").queryName("burst_cells")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = Events.burstsFromHourly(
      spark.table("burst_cells").localCheckpoint(true))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batch = Events.bursts(spark, sf()).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming session bounds == batch sweepline (complete-mode grid, scored on final state)") {
    val q = Events.streamingSessionBounds(spark, eventsDir)
      .writeStream.format("memory").queryName("sweep_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = Events.sweeplineFromSessions(
      spark.table("sweep_sessions").localCheckpoint(true))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val batch = Events.sweeplineLoad(spark, sf()).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming first-days == batch reach curve (complete-mode MIN, scored on final state)") {
    val q = Events.streamingFirstDays(spark, eventsDir)
      .writeStream.format("memory").queryName("reach_fd")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ev = graft.engine.Tables.load(spark, sf(), "events")
    val streamed = Events.reachCurve(
        spark.table("reach_fd").localCheckpoint(true), ev)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val batch = Events.cumulativeReach(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("gaps and islands: consecutive-day streaks, counts, earliest-tie longest") {
    import spark.implicits._
    val t0 = java.time.LocalDate.of(2024, 3, 1)
    def ev(id: Long, uid: Long, dayOff: Int, hour: Int = 9) =
      (id, uid, "click",
        t0.plusDays(dayOff).atTime(hour, 0).toInstant(java.time.ZoneOffset.UTC)
          .getEpochSecond * 1000000000L, 1.0)
    // u1: days 0,1,2 + 4 + 9,10 (3 islands, longest 3 starting day 0;
    //     two events on day 1 must not double-count the day)
    // u2: day 6 only; u3: days 0,1 and 3,4 — TIE on length, the
    //     earlier start must win
    val rows = Seq(
      ev(1, 1, 0), ev(2, 1, 1), ev(3, 1, 1, 17), ev(4, 1, 2), ev(5, 1, 4),
      ev(6, 1, 9), ev(7, 1, 10),
      ev(8, 2, 6),
      ev(9, 3, 0), ev(10, 3, 1), ev(11, 3, 3), ev(12, 3, 4))
    val dir = java.nio.file.Files.createTempDirectory("graft_gaps").toString
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Events.gapsIslands(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4))))
      .toMap
    assert(r(1L) == ((3L, 6L, 3L, "2024-03-01")), r(1L).toString)
    assert(r(2L) == ((1L, 1L, 1L, "2024-03-07")), r(2L).toString)
    assert(r(3L) == ((2L, 4L, 2L, "2024-03-01")), r(3L).toString)
  }

  test("attribution join reconciles late clicks across micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._

    // Watermark delay 1 h, join range 30 min. Pass 1 delivers both
    // purchases and one click; pass 2 delivers LATE clicks with event
    // times BEFORE data already processed (out-of-order across
    // micro-batches, above the watermark):
    //  - c2 (+550) matches p1 (+600), which ALREADY emitted its
    //    (p1, c0) pair in pass 1 — the purchase must still be buffered
    //    in join state and emit the second pair;
    //  - c1 (+880) matches p2 (+900), a purchase from the previous
    //    micro-batch — new-arrival × buffered-state reconciliation.
    val t0 = 1700000000L
    def row(id: Long, uid: Long, typ: String, sec: Long) =
      (id, uid, typ, (t0 + sec) * 1000000000L, 1.0)
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val fileA = Seq(
      row(1, 1, "click", 300),      // c0: matches p1 in-pass
      row(10, 1, "purchase", 600),  // p1
      row(20, 2, "purchase", 900))  // p2 (no click yet)
    val fileB = Seq(
      row(2, 1, "click", 550),      // c2: LATE, second match for emitted p1
      row(3, 2, "click", 880))      // c1: LATE, first match for buffered p2

    val inDir = java.nio.file.Files.createTempDirectory("graft_lattr_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lattr_ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lattr_out").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_lattr_all").toString
    (fileA ++ fileB).toDF(cols: _*).coalesce(1).write.mode("overwrite")
      .parquet(s"$batchDir/events.parquet")

    def runPass(rows: Seq[(Long, Long, String, Long, Double)], part: Int): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_lattr_w")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part0 = java.nio.file.Files.list(scratch).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(java.nio.file.Paths.get(part0),
        java.nio.file.Paths.get(s"$inDir/batch$part.parquet"))
      val q = Events.streamingPurchaseAttribution(spark, inDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
    }
    runPass(fileA, 0); runPass(fileB, 1)

    val streamed = spark.read.parquet(outDir)
      .select(col("event_id"), col("click_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    // an INNER interval join emits matches on arrival (no watermark
    // closure needed), so late-but-above-watermark clicks must leave the
    // stream result EQUAL to the batch join over the complete corpus
    val batch = Events.batchPurchaseAttribution(spark, batchDir)
      .select(col("event_id"), col("click_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // and the two cross-batch reconciliations demonstrably happened
    assert(streamed.contains((10L, (t0 + 550) * 1000L)),
      "late click did not re-match an already-emitted purchase")
    assert(streamed.contains((20L, (t0 + 880) * 1000L)),
      "late click did not match a purchase buffered from the earlier batch")
  }

  test("stream-stream interval join (purchase attribution) == batch join") {
    val q = Events.streamingPurchaseAttribution(spark, eventsDir)
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("attrib")
      .select("event_id", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val batch = Events.batchPurchaseAttribution(spark, sf())
      .select("event_id", "click_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-stream LEFT OUTER interval join == batch left join (watermark-closed rows)") {
    import org.apache.spark.sql.functions._
    val q = Events.streamingPurchaseAttributionLeft(spark, eventsDir)
      .writeStream.format("memory").queryName("attrib_left")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("attrib_left")
      .select(col("event_id"), col("click_ts"))
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
    val batchRows = Events.batchPurchaseAttributionLeft(spark, sf())
      .select(col("event_id"), col("click_ts"), col("purchase_ts"))
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)), r.getTimestamp(2)))
    val batch = batchRows.map(x => (x._1, x._2)).toSet
    // nothing streamed that batch doesn't have
    assert((streamed -- batch).isEmpty, s"extra rows: ${(streamed -- batch).take(5)}")
    // matched (inner) rows must ALL be present
    val matchedMissing = batch.filter(_._2.isDefined) -- streamed
    assert(matchedMissing.isEmpty, s"matched rows missing: ${matchedMissing.take(5)}")
    // outer (null-click) rows may be withheld only near the stream's end,
    // while the watermark cannot yet prove no click will arrive. Spark's
    // internal eviction bound for the left side is conservative (watermark
    // delay + join range + batch lag), so allow a 2× delay + range margin;
    // everything older MUST have been emitted
    val maxTs = batchRows.map(_._3.getTime).max
    val horizon = maxTs - 2 * 3600 * 1000L - 30 * 60 * 1000L
    val outerMissing = (batch -- streamed).filter(_._2.isEmpty)
    val badMissing = outerMissing.filter { case (id, _) =>
      batchRows.find(x => x._1 == id && x._2.isEmpty)
        .exists(_._3.getTime < horizon)
    }
    assert(badMissing.isEmpty,
      s"outer rows the watermark had long closed are missing: ${badMissing.take(5)}")
    // non-vacuous both ways: the STREAM really emitted null-click rows,
    // and batch truth has purchases without clicks
    assert(streamed.exists(_._2.isEmpty), "no outer rows emitted by the stream")
    assert(batch.exists(_._2.isEmpty))
  }

  test("streaming decontamination: keep-set == batch exact filter (bloom has no false negatives)") {
    import spark.implicits._
    import graft.streaming.Decontaminate
    val probes = Seq("hash join", "query plan")
    val rows = Seq(
      (1L, "this text mentions a hash join somewhere inside"),
      (2L, "a perfectly clean document with no probes at all"),
      (3L, "the query plan appears here"),
      (4L, "hash joins are fine when not exact bigram"), // "hash joins" != "hash join"
      (5L, "another clean one"))
    val inDir = java.nio.file.Files.createTempDirectory("graft_dc_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dc_ck").toString
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(inDir)
    Decontaminate.start(spark, inDir, outDir, ckpt, probes).awaitTermination(120000)
    val kept = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L), kept.toString)
    // and the streaming keep-set equals the batch filter on the same frame
    val batchKept = Decontaminate.clean(rows.toDF("doc_id", "text"), probes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == batchKept)
    assertReplayUnchanged(ckpt, outDir)(
      Decontaminate.start(spark, inDir, outDir, ckpt, probes))
  }

  test("decontamination matches probes of mixed n-gram lengths") {
    import spark.implicits._
    import graft.streaming.Decontaminate
    // a 3-token and a 1-token probe next to a bigram — the bigram-only
    // form silently passed every non-bigram probe (review r6)
    val probes = Seq("sort merge join", "contaminated", "hash join")
    val rows = Seq(
      (1L, "spark plans a sort merge join for big tables"),
      (2L, "this one is contaminated by a single token"),
      (3L, "a hash join bigram probe still works"),
      (4L, "sort merge operations alone are fine"), // prefix only — no match
      (5L, "clean"))
    val kept = Decontaminate.clean(rows.toDF("doc_id", "text"), probes)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 5L), kept.toString)
    // probes with irregular whitespace (tabs, double spaces — as
    // harvested from real eval files) normalize to the same phrase
    val messy = Seq("sort\tmerge join", "  hash   join ")
    val keptMessy = Decontaminate.clean(rows.toDF("doc_id", "text"), messy)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMessy == Set(2L, 4L, 5L), keptMessy.toString)
  }

  test("streaming temperature mixing == batch mix on the same corpus (shared recipe)") {
    import graft.streaming.TemperatureMix
    // real documents table as both recipe snapshot and stream source —
    // several langs, enough rows that every domain keeps a strict subset
    val docsDir = java.nio.file.Files.createTempDirectory("graft_mix_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_mix_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mix_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3) // several input files → several micro-batch splits
      .write.mode("overwrite").parquet(docsDir)
    TemperatureMix.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.ext.TextOps.mixTemperature(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    // the mix is a strict, non-empty subset — the sampler actually sampled
    val total = spark.read.parquet(docsDir).count()
    assert(streamed.nonEmpty && streamed.size < total)
    assertReplayUnchanged(ckpt, outDir)(
      TemperatureMix.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming hashed classifier == batch scores (stateless scan-side projection)") {
    import org.apache.spark.sql.functions._
    val docsDir = java.nio.file.Files.createTempDirectory("graft_clf_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_clf_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_clf_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3).write.mode("overwrite").parquet(docsDir)
    MicroBatch.files(graft.ext.TextOps.classifierScoreOn(
        MicroBatch.source(spark, docsDir)), outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val batch = graft.ext.TextOps.classifierHashed(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming cell assignment == batch kmeans step on the same corpus (frozen centroids)") {
    import graft.streaming.CellAssignIngest
    val embDir = java.nio.file.Files.createTempDirectory("graft_cell_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_cell_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cell_ck").toString
    spark.read.parquet(s"${sf()}/embeddings.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(embDir)
    CellAssignIngest.start(spark, embDir, embDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("vec_id", "cell", "dist_fp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // batch twin: kmeansStep's (new_label, dist_fp) against the same
    // label-mean centroids. Both sides run Quantizer.centroids/nearest;
    // this pins the streaming path (source, stream-static join, sink)
    // row for row. VectorExprSpec checks nearest against an independent
    // row_number argmin.
    val batch = graft.ext.Similarity.kmeansStep(spark, sf())
      .select("vec_id", "new_label", "dist_fp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    assertReplayUnchanged(ckpt, outDir)(
      CellAssignIngest.start(spark, embDir, embDir, outDir, ckpt))
  }

  test("streaming IVF index append == batch frozen-cell append; probe-after-append identical") {
    import org.apache.spark.sql.functions._
    import graft.streaming.IvfAppendIngest
    val sim = graft.ext.Similarity
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val isNew = expr("vec_id % 7 = 3")
    val root = java.nio.file.Files.createTempDirectory("graft_ivfapp").toString
    val (idxBatch, idxStream) = (s"$root/idx_batch", s"$root/idx_stream")
    val (centDir, newDir, ckpt) = (s"$root/quantizer", s"$root/new", s"$root/ck")
    val init = e.filter(!isNew).select(col("vec_id"), col("label").as("cell"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))")
        .as("vfp"))
    val trained = sim.ivfTrain(init, iters = 2)
    trained.write.parquet(idxBatch)
    trained.write.parquet(idxStream)
    sim.cellCentroids(trained).write.parquet(centDir)
    e.filter(isNew).repartition(3) // several files → several micro-batches
      .write.parquet(newDir)
    // batch append vs stream append of the SAME held-out vectors
    sim.ivfAssignFrozen(e.filter(isNew), spark.read.parquet(centDir))
      .write.mode("append").parquet(idxBatch)
    IvfAppendIngest.start(spark, newDir, centDir, idxStream, ckpt)
      .awaitTermination(120000)
    def postings(p: String) = spark.read.parquet(p)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val (sp, bp) = (postings(idxStream), postings(idxBatch))
    assert(sp == bp && sp.nonEmpty, s"stream=${sp.size} batch=${bp.size}")
    // the graded probe: identical results through the frozen quantizer
    val cent = spark.read.parquet(centDir)
    def probe(p: String) = sim.ivfProbe(e, spark.read.parquet(p),
      nQueries = 10, k = 5, nprobe = 4, centOverride = Some(cent))
      .collect().map(_.toSeq).toSeq
    assert(probe(idxStream) == probe(idxBatch))
    // at-least-once: a crash replay loses no row and adds exactly the
    // replayed batch's postings
    def bag(p: String) = rowBag(spark.read.parquet(p).select("vec_id", "cell", "vfp"))
    val before = bag(idxStream)
    val id = replayLastBatch(ckpt)(
      IvfAppendIngest.start(spark, newDir, centDir, idxStream, ckpt))
    val replayed = rowBag(sim.ivfAssignFrozen(
      spark.read.parquet(batchInputs(ckpt, id): _*), cent))
    assert(replayed.nonEmpty && bag(idxStream) == bagUnion(before, replayed))
  }

  test("streaming PQ index append == batch frozen-codebook append; ADC probe-after-append identical") {
    import org.apache.spark.sql.functions._
    import graft.streaming.PqAppendIngest
    val sim = graft.ext.Similarity
    val (nSub, subDim, nCodes) = (16, 4, 32)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val isNew = expr("vec_id % 7 = 3")
    val root = java.nio.file.Files.createTempDirectory("graft_pqapp").toString
    val (idxBatch, idxStream) = (s"$root/idx_batch", s"$root/idx_stream")
    val (codesBatch, codesStream) = (s"$root/codes_batch", s"$root/codes_stream")
    val (centDir, cbDir, newDir, ckpt) =
      (s"$root/quantizer", s"$root/codebooks", s"$root/new", s"$root/ck")
    val init = e.filter(!isNew).select(col("vec_id"), col("label").as("cell"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))")
        .as("vfp"))
    val trained = sim.ivfTrain(init, iters = 2)
    trained.write.parquet(idxBatch)
    trained.write.parquet(idxStream)
    sim.cellCentroids(trained).write.parquet(centDir)
    val subs = sim.pqResidualSubs(trained, spark.read.parquet(centDir),
      nSub, subDim).localCheckpoint(true)
    sim.pqTrainCodebooks(subs, pqIters = 2, nCodes = nCodes).write.parquet(cbDir)
    val baseCodes = sim.pqEncodeFrozen(subs, spark.read.parquet(cbDir))
      .drop("err_fp")
    baseCodes.write.parquet(codesBatch)
    baseCodes.write.parquet(codesStream)
    e.filter(isNew).repartition(3) // several files → several micro-batches
      .write.parquet(newDir)
    // batch append vs stream append of the SAME held-out vectors,
    // through the SAME frozen artifacts
    val newAssign = sim.ivfAssignFrozen(e.filter(isNew),
      spark.read.parquet(centDir))
    newAssign.write.mode("append").parquet(idxBatch)
    sim.pqEncodeFrozen(
        sim.pqResidualSubs(newAssign, spark.read.parquet(centDir), nSub, subDim),
        spark.read.parquet(cbDir))
      .drop("err_fp").write.mode("append").parquet(codesBatch)
    PqAppendIngest.start(spark, newDir, centDir, cbDir, idxStream,
      codesStream, ckpt, nSub, subDim).awaitTermination(120000)
    def codes(p: String) = spark.read.parquet(p)
      .select("cid", "cell", "subspace", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val (sc, bc) = (codes(codesStream), codes(codesBatch))
    assert(sc == bc && sc.nonEmpty, s"stream=${sc.size} batch=${bc.size}")
    // the graded probe: identical ADC + re-rank results through the
    // frozen quantizer and codebooks
    def probe(idx: String, cds: String) = sim.ivfPqProbeTail(
      spark.read.parquet(idx), spark.read.parquet(centDir),
      spark.read.parquet(cbDir), spark.read.parquet(cds),
      nQueries = 10, k = 5, nprobe = 4, nSub = nSub, subDim = subDim,
      rerank = 50).collect().map(_.toSeq).toSeq
    assert(probe(idxStream, codesStream) == probe(idxBatch, codesBatch))
    // at-least-once: a crash replay loses no row and adds exactly the
    // replayed batch's postings and codes
    def postingBag = rowBag(spark.read.parquet(idxStream).select("vec_id", "cell", "vfp"))
    def codeBag = rowBag(spark.read.parquet(codesStream)
      .select("cid", "cell", "subspace", "code"))
    val (postingsBefore, codesBefore) = (postingBag, codeBag)
    val id = replayLastBatch(ckpt)(PqAppendIngest.start(spark, newDir, centDir,
      cbDir, idxStream, codesStream, ckpt, nSub, subDim))
    val cent = spark.read.parquet(centDir)
    val assigned = sim.ivfAssignFrozen(
      spark.read.parquet(batchInputs(ckpt, id): _*), cent)
    val replayedCodes = rowBag(sim.pqEncodeFrozen(
        sim.pqResidualSubs(assigned, cent, nSub, subDim), spark.read.parquet(cbDir))
      .select("cid", "cell", "subspace", "code"))
    assert(replayedCodes.nonEmpty)
    assert(postingBag == bagUnion(postingsBefore, rowBag(assigned)))
    assert(codeBag == bagUnion(codesBefore, replayedCodes))
  }

  test("streaming LM surprisal filter == batch keep set on the same corpus (frozen model)") {
    import graft.streaming.SurprisalFilter
    val docsDir = java.nio.file.Files.createTempDirectory("graft_lm_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lm_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lm_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3) // several input files → several micro-batches
      .write.mode("overwrite").parquet(docsDir)
    SurprisalFilter.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "surprisal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = graft.ext.TextOps.lmSurprisal(spark, sf())
      .filter(org.apache.spark.sql.functions.col("keep") === 1)
      .select("doc_id", "surprisal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    // a real filter: non-empty, strict subset of the corpus
    val total = spark.read.parquet(docsDir).count()
    assert(streamed.nonEmpty && streamed.size < total)
    assertReplayRewrites(ckpt, outDir)(
      SurprisalFilter.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming budget apply == batch copy counts under the shared plan") {
    import graft.streaming.BudgetApplyIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_ba_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ba_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ba_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(docsDir)
    BudgetApplyIngest.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ext.TextOps.tokenBudgetApply(spark, sf())
      .filter(org.apache.spark.sql.functions.col("n_copies") >= 1)
      .select("doc_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    val total = spark.read.parquet(docsDir).count()
    assert(streamed.nonEmpty && streamed.size < total)
    assertReplayUnchanged(ckpt, outDir)(
      BudgetApplyIngest.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming Gopher rule filter == batch keep set on the same corpus") {
    import graft.streaming.GopherIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_gr_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_gr_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gr_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3) // several input files → several micro-batches
      .write.mode("overwrite").parquet(docsDir)
    GopherIngest.start(spark, docsDir, outDir, ckpt).awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "rule_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ext.TextOps.gopherRules(spark, sf())
      .filter(org.apache.spark.sql.functions.col("keep") === 1)
      .select("doc_id", "rule_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    val total = spark.read.parquet(docsDir).count()
    assert(streamed.nonEmpty && streamed.size < total)
    assertReplayRewrites(ckpt, outDir)(GopherIngest.start(spark, docsDir, outDir, ckpt))
  }

  test("streaming CDC chunk dedup == batch pair semantics; replay touches nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.CdcDedupIngest
    import graft.engine.Snapshots
    // documents as opaque payloads, streamed in id order: 3 ordered
    // files so arrival order == media_id order and the batch pair rule
    // (drop the larger id of any tau-pair) is the exact expectation
    val media = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
    val n = media.count()
    val inDir = java.nio.file.Files.createTempDirectory("graft_cdc_in").toString
    val idxDir = java.nio.file.Files.createTempDirectory("graft_cdc_idx").toString
    val tblDir = java.nio.file.Files.createTempDirectory("graft_cdc_tbl").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ck").toString
    Seq(0L until n / 3, n / 3 until 2 * n / 3, 2 * n / 3 until n)
      .zipWithIndex.foreach { case (ids, i) =>
        val stage = java.nio.file.Files.createTempDirectory("graft_cdc_stg").toString
        media.filter(col("media_id").isin(ids: _*)).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$inDir/f$i.parquet"))
      }
    CdcDedupIngest.start(spark, inDir, idxDir, tblDir, ckpt, "cdc_test")
      .awaitTermination(180000)
    val streamed = Snapshots.read(spark, tblDir)
      .select("media_id").as[Long].collect().toSet
    // expected: the batch operator's tau-pairs, dropping any id that
    // pairs with a smaller one (kept or itself dropped — the documented
    // parallel pair-drop convention; id order == arrival order here).
    // Within a batch that is exactly the rule; across batches the kept
    // side is index-only, but a dropped doc's pairs with later docs can
    // only EXTEND the drop set via pairs the kept set already implies at
    // tau=0.5 on this fixture — asserted by equality below.
    val pairs = graft.ext.Multimodal.mediaCdcDedupOn(
      media.select(col("media_id"), col("payload")), mask = 64, tau = 0.5)
      .select("media_a", "media_b").as[(Long, Long)].collect()
    val dropped = pairs.map(_._2).toSet // b > a always (pairs are ordered)
    val expected = (0L until n).toSet -- dropped
    assert(streamed == expected,
      s"stream=${streamed.size} expected=${expected.size} " +
        s"diff=${(streamed diff expected) ++ (expected diff streamed)}")
    assert(dropped.nonEmpty, "fixture has no CDC near-dups — test is vacuous")
    // replay idempotence: re-running batch 0 changes neither index nor table
    val vBefore = Snapshots.latestVersion(spark, tblDir)
    val b0 = spark.read.parquet(s"$inDir/f0.parquet")
    val s0 = CdcDedupIngest.processBatch(b0, idxDir, batchId = Some(0L))
    assert(graft.streaming.SnapshotIngest.ingestBatch(s0, tblDir, "cdc_test", 0L).isEmpty)
    assert(Snapshots.latestVersion(spark, tblDir) == vBefore)
    assert(Snapshots.read(spark, tblDir).select("media_id").as[Long].collect().toSet
      == expected)
  }

  test("continuous-ingest near-dup filter: cross-batch index dedup == batch semantics") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    // doc 0 = original; 1 = exact dup (arrives later, other batch);
    // 2 = near dup of 0 (one word changed); 3, 4 = unrelated
    def doc(id: Long, text: String) = (id, text, "en", "s", text.length.toLong)
    val batch1 = Seq(
      doc(0, "the quick brown fox jumps over the lazy dog again today"),
      doc(3, "completely different words appear inside this very unusual sentence here"))
    val batch2 = Seq(
      doc(1, "the quick brown fox jumps over the lazy dog again today"),
      doc(2, "the quick brown fox jumps over the lazy cat again today"),
      doc(4, "el gato y el perro y los pajaros es aqui hoy tambien"))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

    val inDir = java.nio.file.Files.createTempDirectory("graft_ndi_in").toString
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ndi_idx").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ndi_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndi_ck").toString

    def stage(rows: Seq[(Long, String, String, String, Long)], n: Int): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_ndi_w")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$inDir/b$n.parquet"))
    }

    stage(batch1, 1)
    NearDupIngest.start(spark, inDir, idxDir, outDir, ckpt).awaitTermination(180000)
    stage(batch2, 2)
    NearDupIngest.start(spark, inDir, idxDir, outDir, ckpt).awaitTermination(180000)

    val kept = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 1 (exact dup of indexed 0) and 2 (near dup of indexed 0) drop in
    // batch 2; 0, 3 survive batch 1; 4 is unrelated
    assert(kept == Set(0L, 3L, 4L), s"kept: $kept")
    // and the streaming result matches the batch operator's keep-set on
    // the full corpus (pair graph has no chains here, so semantics align)
    val all = (batch1 ++ batch2).toDF(cols: _*)
    val batchPairs = graft.ext.Dedup.minhashLshOn(all)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val batchKept = Set(0L, 1L, 2L, 3L, 4L) -- batchPairs
    assert(kept == batchKept, s"stream $kept vs batch $batchKept")

    // normalized index layout (ADVICE r3): band rows are NARROW keys only,
    // and the ~2 KB shingle set is stored exactly once per surviving doc.
    // Since r6 each store is additionally partitioned by ingest_batch —
    // replay overwrites its own partition (idempotence without reading
    // the store, ADVICE r5) — so the read surfaces that partition column.
    val bands = spark.read.parquet(s"$idxDir/bands.parquet")
    assert(bands.schema.fieldNames.sorted.toSeq ==
      Seq("band", "bkey", "doc_id", "ingest_batch"), bands.schema.treeString)
    val sigs = spark.read.parquet(s"$idxDir/sigs.parquet")
    assert(sigs.schema.fieldNames.sorted.toSeq ==
      Seq("doc_id", "ingest_batch", "ss", "sz"))
    // batch partitioning places each doc's index rows in the batch that
    // accepted it — batch ids are monotone across restarts of a shared
    // checkpoint, so batch-1 survivors (0, 3) land in ingest_batch=0 and
    // batch-2's survivor (4) in ingest_batch=1, not overwriting partition 0
    val byBatch = sigs.groupBy("ingest_batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBatch == Map(0 -> 2L, 1 -> 1L), byBatch.toString)
    val sigCounts = sigs.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigCounts.keySet == kept, s"sig store: ${sigCounts.keySet} vs kept $kept")
    assert(sigCounts.values.forall(_ == 1L), s"duplicated sigs: $sigCounts")
    // 32 band rows per surviving doc
    val bandCounts = bands.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(bandCounts.forall(_ == 32L), bandCounts.mkString(","))
    // crash replay of the second batch: output and both index stores unchanged
    assertReplayRewrites(ckpt, outDir, s"$idxDir/bands.parquet", s"$idxDir/sigs.parquet")(
      NearDupIngest.start(spark, inDir, idxDir, outDir, ckpt))
  }

  test("ad-hoc ingest idempotence reads only the adhoc/legacy partitions (flat cost)") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val idx = java.nio.file.Files.createTempDirectory("graft_ndi_flat").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"unique document number $i with its own very distinct words w$i x$i y$i z$i",
        "en", "s", 60L)).toDF(cols: _*)

    // a stream grows the index: 3 numeric partitions, 20 docs each
    NearDupIngest.processBatch(docs(0 until 20), idx, batchId = Some(0)).count()
    NearDupIngest.processBatch(docs(20 until 40), idx, batchId = Some(1)).count()
    NearDupIngest.processBatch(docs(40 until 60), idx, batchId = Some(2)).count()

    // first ad-hoc backfill lands in ingest_batch=adhoc
    NearDupIngest.processBatch(docs(100 until 105), idx, batchId = None).count()

    // the idempotence check consults ONLY the adhoc/legacy partition
    // dirs — its input files must never include a numeric partition, so
    // per-call read cost doesn't grow with the streamed index
    for (store <- Seq("sigs.parquet", "bands.parquet")) {
      val seen = NearDupIngest.adhocSeenIds(spark, s"$idx/$store")
      assert(seen.isDefined)
      val files = seen.get.inputFiles.toSeq
      assert(files.nonEmpty && files.forall(f =>
        f.contains("ingest_batch=adhoc") || f.contains("ingest_batch=legacy")),
        files.mkString(","))
    }

    // replaying the same ad-hoc batch adds nothing (the r4 contract)
    NearDupIngest.processBatch(docs(100 until 105), idx, batchId = None).count()
    val sigCounts = spark.read.parquet(s"$idx/sigs.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 100)
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigCounts.keySet == (100L until 105L).toSet && sigCounts.values.forall(_ == 1L),
      sigCounts.toString)
  }

  test("streaming batch onto a pre-partition store migrates loose root files first") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val idx = java.nio.file.Files.createTempDirectory("graft_ndi_mig").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"quite original content for migration test row $i m$i n$i o$i p$i",
        "en", "s", 55L)).toDF(cols: _*)
    // simulate a pre-partition store: bare part files at each store root
    NearDupIngest.processBatch(docs(0 until 5), idx, batchId = None).count()
    for (store <- Seq("sigs.parquet", "bands.parquet")) {
      val root = java.nio.file.Paths.get(idx, store)
      val adhoc = root.resolve("ingest_batch=adhoc")
      java.nio.file.Files.list(adhoc).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.move(p, root.resolve(p.getFileName))
      }
      java.nio.file.Files.walk(adhoc).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    // a STREAMING batch (Some(id)) must fold the loose files into
    // ingest_batch=legacy before writing its own partition dir (ADVICE
    // r6 — previously only the ad-hoc branch migrated, and the mixed
    // layout wedged partition discovery for all later reads)
    NearDupIngest.processBatch(docs(10 until 15), idx, batchId = Some(0)).count()
    val sigs = spark.read.parquet(s"$idx/sigs.parquet")
    assert(sigs.count() == 10, sigs.count().toString)
    assert(sigs.inputFiles.exists(_.contains("ingest_batch=legacy")))
    assert(sigs.inputFiles.exists(_.contains("ingest_batch=0")))
  }

  test("foreachBatch sink: deduped micro-batches land in parquet (custom-sink pattern)") {
    import org.apache.spark.sql.{DataFrame, Row, Dataset}
    val out = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val q = Events.streamingDedup(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the escape hatch to any batch sink; append is safe here because
        // dropDuplicatesWithinWatermark emits each event_id once
        batch.write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val landed = spark.read.parquet(out).select("event_id").distinct().count()
    val expected = graft.engine.Tables.load(spark, sf(), "events")
      .select("event_id").distinct().count()
    assert(landed == expected)
  }

  test("streaming CUSUM == batch flags across ordered micro-batches (frozen baseline)") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables.load(spark, sf(), "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val baseline = Events.cusumBaseline(ev).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(baseline.nonEmpty)
    // stage 3 CONTIGUOUS ts-ordered slices as separate files (increasing
    // mtimes) so maxFilesPerTrigger=1 delivers each user's events in
    // order across three real micro-batches
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev.withColumn("rk", row_number().over(w))
    val n = ev.count().toInt
    val inDir = java.nio.file.Files.createTempDirectory("graft_cusum_in")
    (0 until 3).foreach { k =>
      val lo = k * n / 3 + 1
      val hi = (k + 1) * n / 3
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_cusum_s$k")
      ranked.filter(col("rk").between(lo, hi)).drop("rk")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val dst = inDir.resolve(f"slice-$k%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 60000L)
    }
    val q = Events.streamingCusum(spark, inDir.toString, baseline,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table("cusum_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Events.cusumDrift(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("streaming Misra-Gries heavy hitters: MG bounds hold vs exact counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.HeavyHitters
    val nShards = 2
    val cap = 4
    // skewed corpus: two genuine heavy tokens + 200 distinct rare tokens
    // (far more than capacity, so eviction/decrement paths really run),
    // split into 3 stream files to exercise cross-batch state
    def doc(id: Long, text: String) = (id, text, "en", "s", 1L)
    val heavyDocs = (0 until 10).map(i => doc(i, Seq.fill(20)("hvy1").mkString(" "))) ++
      (10 until 16).map(i => doc(i, Seq.fill(20)("hvy2").mkString(" ")))
    val rareDocs = (16 until 36).map(i =>
      doc(i, (0 until 10).map(j => s"rare_${i}_$j").mkString(" ")))
    val all = (heavyDocs ++ rareDocs)
      .map(d => (d._1, d._2, d._3, d._4, d._5))
    val inDir = java.nio.file.Files.createTempDirectory("graft_mg_in")
    all.grouped((all.size + 2) / 3).zipWithIndex.foreach { case (slice, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_mg_s$k")
      slice.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = inDir.resolve(f"slice-$k%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 60000L)
    }
    val q = HeavyHitters.summaries(spark, inDir.toString, nShards, cap,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val emitted = spark.table("mg_stream").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(emitted.nonEmpty)
    // final summary per shard = the emission with the highest n_s
    val finalNs = emitted.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._4).max }
    val fin = emitted.filter { case (s, _, _, n) => finalNs(s) == n }
      .map { case (s, tok, est, _) => (s, tok) -> est }.toMap
    // batch exact counts with the same shard assignment
    val exact = all.toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(explode(split(col("text"), " ")).as("token"))
      .select(pmod(xxhash64(col("token")), lit(nShards)).cast("int").as("shard"),
        col("token"))
      .groupBy("shard", "token").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val nPerShard = exact.groupBy(_._1._1).map { case (s, xs) => s -> xs.values.sum }
    nPerShard.foreach { case (s, ns) =>
      val slack = ns.toDouble / (cap + 1)
      // guarantee 1: every token above the MG threshold IS in the summary
      val mustHave = exact.collect { case ((`s`, tok), c) if c > slack => (tok, c) }
      assert(mustHave.nonEmpty, s"fixture must have heavy tokens in shard $s")
      mustHave.foreach { case (tok, c) =>
        val est = fin.get((s, tok))
        assert(est.isDefined, s"heavy token $tok missing from shard $s summary")
        // guarantee 2: under-count bounded by n_s/(cap+1), never over
        assert(est.get <= c && est.get >= c - slack,
          s"$tok est=${est.get} exact=$c slack=$slack")
      }
    }
    // guarantee 3 globally: no estimate exceeds its exact count
    fin.foreach { case ((s, tok), est) =>
      assert(est <= exact.getOrElse((s, tok), 0L), s"overestimate for $tok") }
    // the heavy tokens specifically surfaced
    assert(fin.keys.exists(_._2 == "hvy1") && fin.keys.exists(_._2 == "hvy2"))
  }

  test("streaming running moments == batch decimal power sums, bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val q = Events.streamingUserMoments(spark, eventsDir)
      .writeStream.format("memory").queryName("moments")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // update mode re-emits a user's row per batch; n is monotonic, so the
    // lexicographic struct max picks the final state
    val streamed = spark.table("moments").groupBy("user_id")
      .agg(max(struct(col("n"), col("s1"), col("s2"))).as("m"))
      .select(col("user_id"), col("m.n"), col("m.s1"), col("m.s2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def bigsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 6))).cast("double")
    val batch = graft.engine.Tables.load(spark, sf(), "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), bigsum(col("value")).as("s1"),
        bigsum(col("value") * col("value")).as("s2"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(streamed.keySet == batch.keySet)
    val bad = batch.collect { case (u, b) if streamed(u) != b => (u, streamed(u), b) }
    assert(bad.isEmpty, s"moment drift: ${bad.take(3)}")
  }

  test("streaming ingest commits each micro-batch as a snapshot version") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Dataset, Row}
    import spark.implicits._
    import graft.engine.Snapshots
    val cols = Seq("event_id", "user_id")
    val inDir = java.nio.file.Files.createTempDirectory("graft_snap_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_snap_ck").toString
    val table = s"${graft.engine.WorkDirs.processScoped("graft_test_snap")}/stream_ingest"
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_snap_w")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    addFile("b0.parquet", (1L to 5L).map(i => (i, i % 3)))
    addFile("b1.parquet", (6L to 9L).map(i => (i, i % 3)))
    val q = spark.readStream
      .schema("event_id LONG, user_id LONG")
      .option("maxFilesPerTrigger", "1") // one micro-batch per file
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the versioned-table sink: each micro-batch lands as an append
        // commit, so downstream consumers time-travel / diff by batch
        if (!batch.isEmpty) { Snapshots.commit(batch, table, append = true); () }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(Snapshots.versions(spark, table) == Seq(0, 1))
    assert(Snapshots.read(spark, table).count() == 9)
    // append semantics across batches: v1 ⊇ v0, and the v0→v1 delta is
    // exactly the second batch
    val v0 = Snapshots.read(spark, table, 0).select("event_id").collect().map(_.getLong(0)).toSet
    val v1 = Snapshots.read(spark, table, 1).select("event_id").collect().map(_.getLong(0)).toSet
    assert(v0.subsetOf(v1) && v1.size == 9)
    assert(Snapshots.diff(spark, table, 0, 1).count() == (9 - v0.size).toLong)
  }

  test("exactly-once snapshot ingest: crash + restart cannot double-commit a replayed batch") {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.engine.Snapshots
    import graft.streaming.SnapshotIngest
    val inDir = java.nio.file.Files.createTempDirectory("graft_eo_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eo_ck").toString
    val table = s"${graft.engine.WorkDirs.processScoped("graft_test_snap")}/eo_ingest"
    def addFile(name: String, rows: Seq[(Long, Long)]): Unit = {
      val scratch = java.nio.file.Files.createTempDirectory("graft_eo_w")
      rows.toDF("event_id", "user_id").coalesce(1).write.mode("overwrite")
        .parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    addFile("b0.parquet", (1L to 5L).map(i => (i, i % 3)))
    addFile("b1.parquet", (6L to 9L).map(i => (i, i % 3)))
    addFile("b2.parquet", (10L to 12L).map(i => (i, i % 3)))
    // pass 1: the sink COMMITS batch 0, then the injected crash kills the
    // query before the checkpoint records the batch as complete — the
    // at-least-once window commitWithTxn exists for
    val crashed = spark.readStream
      .schema("event_id LONG, user_id LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        SnapshotIngest.ingestBatch(b.toDF(), table, "eo", id)
        if (id == 0) throw new RuntimeException("injected crash after commit")
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashed.awaitTermination()
    }
    assert(Snapshots.lastTxn(spark, table, "eo") == Some(0L))
    assert(Snapshots.read(spark, table).count() == 5)
    // pass 2: restart from the same checkpoint with the PRODUCTION sink.
    // Batch 0 replays (its offset never reached the commit log) and must
    // be skipped; batches 1 and 2 land once each.
    val q = SnapshotIngest.start(spark, inDir, table, ckpt, appId = "eo")
    q.awaitTermination(120000)
    // exactly-once: every source row exactly once, no duplicate batch —
    // the version count is one commit per DISTINCT batch (replay added none)
    assert(Snapshots.read(spark, table).count() == 12)
    assert(Snapshots.read(spark, table).select("event_id").distinct().count() == 12)
    assert(Snapshots.versions(spark, table).size == 3)
    assert(Snapshots.lastTxn(spark, table, "eo") == Some(2L))
    // stream result ≡ batch result over the same source
    val streamSum = Snapshots.read(spark, table).agg(sum(col("event_id"))).head.getLong(0)
    val batchSum = spark.read.parquet(inDir).agg(sum(col("event_id"))).head.getLong(0)
    assert(streamSum == batchSum)
  }

  test("exactly-once ledger stream twin: replayed batch ids leave BYTE-identical table state (VERDICT r14 item 5)") {
    // fmt_exactly_once grades the commitWithTxn ledger batch-side; this
    // is the streaming-sink grade of the same contract, through the
    // PRODUCTION foreachBatch body (SnapshotIngest.ingestBatch). Both
    // replay classes the oracle pins are forced — the immediate
    // duplicate and the stale replay after later progress — and the
    // assertion is stronger than row counts: the table directory's full
    // file census (every path, length, and content hash) is unchanged,
    // so a replay provably wrote NOTHING (no version, no staged garbage,
    // no manifest rewrite), which is what lets a 100 TB ingest stream
    // restart anywhere without a cleanup pass.
    import graft.engine.Snapshots
    import graft.streaming.SnapshotIngest
    import spark.implicits._
    val table = s"${graft.engine.WorkDirs.processScoped("graft_test_snap")}/eo_bytes"
    def batch(m: Long) =
      (1L to 40L).filter(_ % 3 == m).map(i => (i, i % 5)).toDF("event_id", "user_id")
    assert(SnapshotIngest.ingestBatch(batch(0), table, "eo2", 0L).contains(0))
    assert(SnapshotIngest.ingestBatch(batch(1), table, "eo2", 1L).contains(1))
    def census(): Map[String, (Long, String)] = {
      val root = java.nio.file.Paths.get(table)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val it = java.nio.file.Files.walk(root).iterator()
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          out(root.relativize(p).toString) =
            (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
        }
      }
      out.toMap
    }
    val before = census()
    // immediate duplicate replay of the latest batch id
    assert(SnapshotIngest.ingestBatch(batch(1), table, "eo2", 1L).isEmpty)
    // stale replay after later progress (the crash happened two restarts ago)
    assert(SnapshotIngest.ingestBatch(batch(0), table, "eo2", 0L).isEmpty)
    assert(census() == before,
      "a skipped replay must leave the table directory byte-identical")
    assert(Snapshots.versions(spark, table) == Seq(0, 1))
    // the ledger still advances for genuinely new work after the replays
    assert(SnapshotIngest.ingestBatch(batch(2), table, "eo2", 2L).contains(2))
    assert(Snapshots.read(spark, table).count() == 40)
  }

  /** Build the CellSplitIngest fixture: a label-seeded 2-round IVF index
    * over the base corpus (vec_id % 7 ≠ 3), cell ids cast to LONG,
    * committed as version 0 of the posting + quantizer tables. Returns
    * the trained postings. */
  private def splitFixture(assignT: String, centT: String) = {
    import org.apache.spark.sql.functions._
    val sim = graft.ext.Similarity
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val init = e.filter(!expr("vec_id % 7 = 3"))
      .select(col("vec_id"), col("label").cast("long").as("cell"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))")
          .as("vfp"))
    val trained = sim.ivfTrain(init, iters = 2)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("vfp"))
      .localCheckpoint(true)
    graft.engine.Snapshots.commit(trained, assignT, append = false)
    graft.engine.Snapshots.commit(sim.cellCentroids(trained), centT,
      append = false)
    trained
  }

  test("streaming hot-cell split: health-fed occupancy gate fires in-stream, final state == batch fold, replays leave byte-identical state (VERDICT r15 item 5)") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.CellSplitIngest
    val sim = graft.ext.Similarity
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val root = graft.engine.WorkDirs.processScoped("graft_cellsplit")
    val (assignT, centT) = (s"$root/assign", s"$root/cent")
    val trained = splitFixture(assignT, centT)
    // threshold + skewed feed derived from the trained state: batches
    // clone the hottest cell's members (fresh ids), so that cell's share
    // crosses hot₀+4 points mid-stream — deterministically, whatever the
    // training shifted
    val occ0 = trained.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cell")).collect()
    val tot0 = occ0.map(_.getLong(1)).sum
    val firePct = (occ0.head.getLong(1) * 100 / tot0).toInt + 4
    val hotIds = trained.filter(col("cell") === occ0.head.getLong(0))
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val slices = hotIds.grouped((hotIds.length + 2) / 3).toSeq
    def batchDf(i: Int) = e.filter(col("vec_id").isin(slices(i): _*))
      .select((col("vec_id") + lit(1000000L * (i + 1))).as("vec_id"),
        col("embedding"))
    // ---- stream side: the production foreachBatch body, driven directly
    val fires = (0 until 3).map { i =>
      CellSplitIngest.ingestBatch(batchDf(i), assignT, centT, "split1",
        i.toLong, firePct)
    }
    assert(fires.flatten.nonEmpty, s"gate never fired: $fires")
    // ---- batch side: the same evolution through the batch operators
    // (ivfAssignFrozen routing, as the ingest routes, + orderBy/limit
    // seed picks — an independent formulation of the ingest's struct-min)
    val d = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    var centB = sim.cellCentroids(trained).localCheckpoint(true)
    var assignB = trained
    val firesB = (0 until 3).map { i =>
      assignB = assignB.unionByName(sim.ivfAssignFrozen(batchDf(i), centB))
        .localCheckpoint(true)
      val occ = assignB.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val cen = occ.agg(sum(col("n")), max(col("cell"))).head()
      val (tot, maxCell) = (cen.getLong(0), cen.getLong(1))
      val hot = occ.orderBy(col("n").desc, col("cell")).head()
      if (hot.getLong(1) * 100 > tot * firePct) {
        val hc = hot.getLong(0)
        val members = assignB.filter(col("cell") === hc).localCheckpoint(true)
        val hcent = centB.filter(col("ccell") === hc).select(col("carr"))
        val seedA = members.crossJoin(broadcast(hcent))
          .withColumn("dd", expr(d("vfp", "carr")))
          .orderBy(col("dd").desc, col("vec_id")).limit(1)
          .select(col("vfp").as("avfp"))
        val seedB = members.crossJoin(broadcast(seedA))
          .withColumn("dd", expr(d("vfp", "avfp")))
          .orderBy(col("dd").desc, col("vec_id")).limit(1)
          .select(col("vfp").as("bvfp"))
        val sp = members.crossJoin(broadcast(seedA)).crossJoin(broadcast(seedB))
          .withColumn("da", expr(d("vfp", "avfp")))
          .withColumn("db", expr(d("vfp", "bvfp")))
          .select(col("vec_id"),
            when(col("da") <= col("db"), lit(hc))
              .otherwise(lit(maxCell + 1L)).as("cell"),
            col("vfp"))
          .localCheckpoint(true)
        centB = centB.filter(col("ccell") =!= hc)
          .unionByName(sim.cellCentroids(sp)).localCheckpoint(true)
        assignB = assignB.filter(col("cell") =!= hc).unionByName(sp)
          .localCheckpoint(true)
        Some(hc)
      } else None
    }
    assert(firesB == fires, s"gate decisions diverged: batch=$firesB stream=$fires")
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postings(Snapshots.read(spark, assignT)) == postings(assignB))
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.select("ccell", "carr").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(cents(Snapshots.read(spark, centT)) == cents(centB))
    // ---- replay: covered batch ids stage NOTHING, and the gate's
    // re-evaluation against post-split state is a no-op — both table
    // directories stay byte-identical (the exactly-once ledger grade)
    def census(dir: String): Map[String, (Long, String)] = {
      val rootP = java.nio.file.Paths.get(dir)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val it = java.nio.file.Files.walk(rootP).iterator()
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          out(rootP.relativize(p).toString) =
            (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
        }
      }
      out.toMap
    }
    val before = (census(assignT), census(centT))
    val firedIdx = fires.indexWhere(_.isDefined)
    // the batch that fired the split, and a stale pre-fire batch
    assert(CellSplitIngest.ingestBatch(batchDf(firedIdx), assignT, centT,
      "split1", firedIdx.toLong, firePct).isEmpty)
    assert(CellSplitIngest.ingestBatch(batchDf(0), assignT, centT,
      "split1", 0L, firePct).isEmpty)
    assert((census(assignT), census(centT)) == before,
      "a replayed micro-batch must leave both table directories byte-identical")
  }

  test("CellSplitIngest.start: the live stream drives the same gate + split as the direct foreachBatch body") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.CellSplitIngest
    val root = graft.engine.WorkDirs.processScoped("graft_cellsplit_live")
    val (assignS, centS) = (s"$root/assign_s", s"$root/cent_s")
    val (assignD, centD) = (s"$root/assign_d", s"$root/cent_d")
    val trained = splitFixture(assignS, centS)
    splitFixture(assignD, centD)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val occ0 = trained.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cell")).head()
    val hotIds = trained.filter(col("cell") === occ0.getLong(0))
      .select(col("vec_id")).collect().map(_.getLong(0))
    val feed = e.filter(col("vec_id").isin(hotIds: _*))
      .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("embedding"))
    // one input file → one micro-batch (batchId 0, matching the direct
    // drive); firePct 1 so the single batch fires the gate in-stream
    val feedDir = s"$root/feed"
    feed.coalesce(1).write.parquet(feedDir)
    val q = CellSplitIngest.start(spark, feedDir, assignS, centS,
      s"$root/ck", "live1", firePct = 1)
    q.awaitTermination(120000)
    assert(CellSplitIngest.ingestBatch(spark.read.parquet(feedDir),
      assignD, centD, "live1", 0L, firePct = 1).isDefined)
    def postings(t: String) = Snapshots.read(spark, t)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def cents(t: String) = Snapshots.read(spark, t)
      .select("ccell", "carr").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(postings(assignS) == postings(assignD) && postings(assignS).nonEmpty)
    assert(cents(centS) == cents(centD))
  }

  /** Build the PqRetrainIngest fixture: base-corpus (vec_id % 7 ≠ 3)
    * coarse index + per-subspace codebooks + err-carrying code table,
    * each committed as version 0 of its snapshot table. Returns the
    * codebook table's frozen version id. */
  private def pqRetrainFixture(assignT: String, centT: String,
      cbT: String, codesT: String): Int = {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    val sim = graft.ext.Similarity
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val init = e.filter(!expr("vec_id % 7 = 3"))
      .select(col("vec_id"), col("label").as("cell"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint))")
          .as("vfp"))
    val trained = sim.ivfTrain(init, iters = 2).localCheckpoint(true)
    Snapshots.commit(trained, assignT, append = false)
    Snapshots.commit(sim.cellCentroids(trained), centT, append = false)
    val subs = sim.pqResidualSubs(trained, Snapshots.read(spark, centT),
      nSub = 16, subDim = 4).localCheckpoint(true)
    val vCb = Snapshots.commit(sim.pqTrainCodebooks(subs, pqIters = 2,
      nCodes = 32), cbT, append = false)
    Snapshots.commit(sim.pqEncodeFrozen(subs, Snapshots.read(spark, cbT)),
      codesT, append = false)
    vCb
  }

  /** Feed batches for the retrain tests, cloned from BASE-corpus rows
    * (fresh ids) so the un-corrupted dims encode like their sources and
    * the gate reads drift ≈ 1× for them: batch 0 = clean clones (no
    * fire); batch 1 = the same rows with dims 0–7 scaled ×4 — residuals
    * of subspaces 0–1 (subDim 4) blow up directly, so the materiality
    * floor must select at least {0, 1}. */
  private def pqRetrainBatch(i: Int) = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(expr("not (vec_id % 7 = 3) and vec_id % 5 = 0"))
      .select((col("vec_id") + lit(1000000L * (i + 1))).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr("transform(embedding, (x, i) -> " +
           "case when i < 8 then x * cast(4.0 as float) else x end)"))
          .as("embedding"))
  }

  test("streaming PQ retrain: drift gate fires in-stream on the corrupted subspaces only, swap publishes a new codebook version (old one stays probe-able), replays leave byte-identical state") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.PqRetrainIngest
    val sim = graft.ext.Similarity
    val root = graft.engine.WorkDirs.processScoped("graft_pqretrain")
    val (assignT, centT, cbT, codesT) =
      (s"$root/assign", s"$root/cent", s"$root/cb", s"$root/codes")
    val vFrozen = pqRetrainFixture(assignT, centT, cbT, codesT)
    val cbFrozen = Snapshots.read(spark, cbT, vFrozen)
      .select("cl", "csub", "cw").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
    // ---- batch 0: clean held-out rows — appends land, gate stays shut
    val fire0 = PqRetrainIngest.ingestBatch(pqRetrainBatch(0), assignT,
      codesT, cbT, centT, "rt1", 0L)
    assert(fire0.isEmpty, s"clean batch must not retrain: $fire0")
    assert(Snapshots.versions(spark, cbT).last == vFrozen,
      "no-fire batch must not publish a codebook version")
    // ---- batch 1: dims 0–7 corrupted ×4 — subspaces 0–1 MUST flag;
    // the ×4 scale also moves coarse assignments, so other subspaces'
    // residual distributions legitimately drift past the floor too
    val fire1 = PqRetrainIngest.ingestBatch(pqRetrainBatch(1), assignT,
      codesT, cbT, centT, "rt1", 1L)
    assert(Set(0, 1).subsetOf(fire1.toSet),
      s"corrupted-subspace batch must flag subspaces 0 and 1: $fire1")
    val vSwap = Snapshots.versions(spark, cbT).last
    assert(vSwap > vFrozen, "the swap must publish a NEW codebook version")
    // atomicity: the pre-swap version is still probe-able, bit-identical
    assert(Snapshots.read(spark, cbT, vFrozen)
      .select("cl", "csub", "cw").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet == cbFrozen)
    // the swap rewrote ONLY the flagged subspaces' codebooks
    val cbNow = Snapshots.read(spark, cbT)
      .select("cl", "csub", "cw").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
    assert(cbNow.filterNot(c => fire1.contains(c._2)) ==
      cbFrozen.filterNot(c => fire1.contains(c._2)))
    assert(cbNow.filter(c => fire1.contains(c._2)) !=
      cbFrozen.filter(c => fire1.contains(c._2)))
    // earned value: the corrupted rows' flagged-subspace codes encode
    // strictly better under the retrained codebooks than the frozen ones
    val corrupted = sim.pqEncodeFrozen(
      sim.pqResidualSubs(
        Snapshots.read(spark, assignT).filter(col("vec_id") >= 2000000L),
        Snapshots.read(spark, centT), nSub = 16, subDim = 4),
      Snapshots.read(spark, cbT, vFrozen))
    val preErr = corrupted.filter(col("subspace").isin(fire1: _*))
      .agg(sum(col("err_fp"))).head().getLong(0)
    val postErr = Snapshots.read(spark, codesT)
      .filter(col("cid") >= 2000000L && col("subspace").isin(fire1: _*))
      .agg(sum(col("err_fp"))).head().getLong(0)
    assert(postErr < preErr,
      s"retrain must cut the drifted residual error: $postErr !< $preErr")
    // ---- replay: both covered batch ids stage nothing and the gate
    // does not re-fire (the drift episode ended with the swap) — every
    // table directory stays byte-identical
    def census(dir: String): Map[String, (Long, String)] = {
      val rootP = java.nio.file.Paths.get(dir)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val it = java.nio.file.Files.walk(rootP).iterator()
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          out(rootP.relativize(p).toString) =
            (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
        }
      }
      out.toMap
    }
    val before = Seq(assignT, centT, cbT, codesT).map(census)
    assert(PqRetrainIngest.ingestBatch(pqRetrainBatch(1), assignT, codesT,
      cbT, centT, "rt1", 1L).isEmpty)
    assert(PqRetrainIngest.ingestBatch(pqRetrainBatch(0), assignT, codesT,
      cbT, centT, "rt1", 0L).isEmpty)
    assert(Seq(assignT, centT, cbT, codesT).map(census) == before,
      "a replayed micro-batch must leave every table directory byte-identical")
  }

  test("PqRetrainIngest.start: the live stream drives the same appends + retrain as the direct foreachBatch body") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.PqRetrainIngest
    val root = graft.engine.WorkDirs.processScoped("graft_pqretrain_live")
    val (assignS, centS, cbS, codesS) =
      (s"$root/assign_s", s"$root/cent_s", s"$root/cb_s", s"$root/codes_s")
    val (assignD, centD, cbD, codesD) =
      (s"$root/assign_d", s"$root/cent_d", s"$root/cb_d", s"$root/codes_d")
    pqRetrainFixture(assignS, centS, cbS, codesS)
    pqRetrainFixture(assignD, centD, cbD, codesD)
    // one input file → one micro-batch (batchId 0, matching the direct
    // drive); the corrupted batch so the retrain fires in-stream
    val feedDir = s"$root/feed"
    pqRetrainBatch(1).coalesce(1).write.parquet(feedDir)
    PqRetrainIngest.start(spark, feedDir, assignS, codesS, cbS, centS,
      s"$root/ck", "rtlive").awaitTermination(120000)
    val fireD = PqRetrainIngest.ingestBatch(spark.read.parquet(feedDir),
      assignD, codesD, cbD, centD, "rtlive", 0L)
    assert(fireD.nonEmpty)
    def codes(t: String) = Snapshots.read(spark, t)
      .select("cid", "subspace", "code", "err_fp").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    def cbs(t: String) = Snapshots.read(spark, t)
      .select("cl", "csub", "cw").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2))).toSet
    assert(codes(codesS) == codes(codesD) && codes(codesS).nonEmpty)
    assert(cbs(cbS) == cbs(cbD))
    assert(Snapshots.versions(spark, cbS).size ==
      Snapshots.versions(spark, cbD).size)
  }

  test("streaming coarse re-center: drift-gate budget pick matches the batch fold, swap is one marked publish, replays leave byte-identical state") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.CellRecenterIngest
    val sim = graft.ext.Similarity
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val root = graft.engine.WorkDirs.processScoped("graft_recenter")
    val (assignT, centT) = (s"$root/assign", s"$root/cent")
    val trained = splitFixture(assignT, centT)
    val held = e.filter(expr("vec_id % 7 = 3"))
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val slices = held.grouped((held.length + 1) / 2).toSeq
    def batchDf(i: Int) = e.filter(col("vec_id").isin(slices(i): _*))
      .select((col("vec_id") + lit(1000000L * (i + 1))).as("vec_id"),
        col("embedding"))
    // ---- stream side: the production foreachBatch body, driven directly
    val vPre = Snapshots.versions(spark, centT).last
    val fires = (0 until 2).map { i =>
      CellRecenterIngest.ingestBatch(batchDf(i), assignT, centT, "rc1",
        i.toLong)
    }
    assert(fires.forall(_.isDefined),
      s"the budget rule spends its pick every non-replayed batch: $fires")
    assert(Snapshots.versions(spark, centT).size ==
      Snapshots.versions(spark, centT).filter(_ <= vPre).size + 2,
      "each re-center publishes exactly one quantizer version")
    // ---- batch side: the same evolution through the batch operators
    // (ivfAssignFrozen routing, as the ingest routes, + orderBy/limit
    // worst pick — an independent formulation of the ingest's struct-min)
    val d = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    var centB = sim.cellCentroids(trained).localCheckpoint(true)
    var assignB = trained.select(col("vec_id"), col("cell"), col("vfp"))
    val firesB = (0 until 2).map { i =>
      val routed = sim.ivfAssignFrozen(batchDf(i), centB)
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("vfp"))
      assignB = assignB.unionByName(routed).localCheckpoint(true)
      val newIds = routed.select(col("vec_id").as("bid"))
      val m = assignB.join(broadcast(newIds), col("vec_id") === col("bid"),
          "left_outer")
        .withColumn("src", when(col("bid").isNull, 0L).otherwise(1L))
      val h = m.join(broadcast(centB), col("cell") === col("ccell"))
        .withColumn("d2", expr(d("vfp", "carr")))
        .groupBy(col("cell"))
        .agg(sum(when(col("src") === 0L, col("d2"))).as("bd2"),
          sum(when(col("src") === 0L, 1L).otherwise(0L)).as("nb"),
          sum(when(col("src") === 1L, col("d2"))).as("nd2"),
          sum(when(col("src") === 1L, 1L).otherwise(0L)).as("nn"))
        .select(col("cell"),
          expr("bd2 div nullif(nb, 0L)").as("bm"),
          expr("nd2 div nullif(nn, 0L)").as("nm"))
        .withColumn("drift_bp", expr("nm * 10000L div nullif(bm, 0L)"))
        .withColumn("infd",
          expr("case when bm = 0L and nm > 0L then 1L else 0L end"))
      val worst = h.orderBy(col("infd").desc,
          col("drift_bp").desc_nulls_last, col("cell"))
        .limit(1).head().getLong(0)
      centB = centB.filter(col("ccell") =!= worst)
        .unionByName(sim.cellCentroids(
          assignB.filter(col("cell") === worst)))
        .localCheckpoint(true)
      worst
    }
    assert(fires.map(_.get) == firesB,
      s"budget picks diverged: stream=$fires batch=$firesB")
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.select("ccell", "carr").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(cents(Snapshots.read(spark, centT)) == cents(centB))
    def postings(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postings(Snapshots.read(spark, assignT)) == postings(assignB))
    // ---- earned value: the re-centered cell's members sit closer (in
    // mean fixed-point d²) to the published centroid than to the
    // superseded version's — time travel reads both sides of the swap
    val last = fires(1).get
    val vNow = Snapshots.versions(spark, centT).last
    def meanD2(v: Int): Long = Snapshots.read(spark, assignT)
      .filter(col("cell") === last)
      .join(broadcast(Snapshots.read(spark, centT, v)
        .filter(col("ccell") === last)), col("cell") === col("ccell"))
      .agg(expr(s"sum(${d("vfp", "carr")}) div count(1)")).head().getLong(0)
    assert(meanD2(vNow) <= meanD2(vNow - 1),
      "re-centering to the members' truncated mean must not worsen their mean d2")
    // ---- replay: covered batch ids stage nothing, the budget rule is
    // not re-evaluated (the swap's ledger mark) — both table
    // directories stay byte-identical
    def census(dir: String): Map[String, (Long, String)] = {
      val rootP = java.nio.file.Paths.get(dir)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val it = java.nio.file.Files.walk(rootP).iterator()
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p)) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          out(rootP.relativize(p).toString) =
            (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
        }
      }
      out.toMap
    }
    val before = (census(assignT), census(centT))
    assert(CellRecenterIngest.ingestBatch(batchDf(1), assignT, centT,
      "rc1", 1L).isEmpty)
    assert(CellRecenterIngest.ingestBatch(batchDf(0), assignT, centT,
      "rc1", 0L).isEmpty)
    assert((census(assignT), census(centT)) == before,
      "a replayed micro-batch must leave both table directories byte-identical")
  }

  test("CellRecenterIngest.start: the live stream drives the same gate + re-center as the direct foreachBatch body") {
    import org.apache.spark.sql.functions._
    import graft.engine.Snapshots
    import graft.streaming.CellRecenterIngest
    val root = graft.engine.WorkDirs.processScoped("graft_recenter_live")
    val (assignS, centS) = (s"$root/assign_s", s"$root/cent_s")
    val (assignD, centD) = (s"$root/assign_d", s"$root/cent_d")
    splitFixture(assignS, centS)
    splitFixture(assignD, centD)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val feed = e.filter(expr("vec_id % 7 = 3"))
      .select((col("vec_id") + lit(3000000L)).as("vec_id"), col("embedding"))
    val feedDir = s"$root/feed"
    feed.coalesce(1).write.parquet(feedDir)
    CellRecenterIngest.start(spark, feedDir, assignS, centS,
      s"$root/ck", "rclive").awaitTermination(120000)
    assert(CellRecenterIngest.ingestBatch(spark.read.parquet(feedDir),
      assignD, centD, "rclive", 0L).isDefined)
    def postings(t: String) = Snapshots.read(spark, t)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def cents(t: String) = Snapshots.read(spark, t)
      .select("ccell", "carr").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(postings(assignS) == postings(assignD) && postings(assignS).nonEmpty)
    assert(cents(centS) == cents(centD))
  }

  test("streaming dedup within watermark preserves distinct event count") {
    val q = Events.streamingDedup(spark, eventsDir)
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("deduped").count()
    val batchDistinct = graft.engine.Tables.load(spark, sf(), "events")
      .dropDuplicates("event_id").count()
    assert(streamed == batchDistinct)
  }

  test("streaming per-day histogram states reproduce the batch rolling p95 exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.HistRollingIngest
    val dv = graft.engine.Tables.load(spark, sf(), "events")
      .select(to_date(col("ts")).cast("string").as("day"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val inDir = java.nio.file.Files.createTempDirectory("graft_hist_in")
    dv.grouped((dv.size + 2) / 3).zipWithIndex.foreach { case (slice, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_hist_s$k")
      slice.toDF("day", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, inDir.resolve(f"slice-$k%02d.parquet"))
      inDir.resolve(f"slice-$k%02d.parquet").toFile
        .setLastModified(1700000000000L + k * 60000L)
    }
    val q = HistRollingIngest.histograms(spark, inDir.toString,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("hist_days")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // final state per day = the emission with the largest running n
    // (counting states are NOT merge-idempotent, unlike the HLL twin)
    val finals = spark.table("hist_days").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Seq[Long]](2).toArray))
      .groupBy(_._1).map { case (d, xs) => d -> xs.maxBy(_._2) }
    // batch twin: the graded rolling-p95 query on the same rows
    val batch = graft.streaming.Events.histRollingP95(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(finals.keySet == batch.keySet)
    val days = finals.keys.toSeq.sorted
    days.foreach { anchor =>
      val window = days.filter(d => d <= anchor &&
        java.time.LocalDate.parse(d).plusDays(6)
          .compareTo(java.time.LocalDate.parse(anchor)) >= 0)
      val (n, b) = HistRollingIngest.p95(window.map(d => finals(d)._3))
      assert((n, b) == batch(anchor),
        s"anchor $anchor: stream ($n, $b) != batch ${batch(anchor)}")
    }
  }

  test("streaming per-day HLL states reproduce the batch sketch estimates exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.HllRollingIngest
    // real (day, user) rows split into 3 micro-batch files; the third
    // file REPLAYS half of the first (at-least-once delivery) — the
    // register-max state must absorb the duplicates without drift
    val du = graft.engine.Tables.load(spark, sf(), "events")
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val slices = du.grouped((du.size + 1) / 2).toSeq :+ du.take(du.size / 2)
    val inDir = java.nio.file.Files.createTempDirectory("graft_hll_in")
    slices.zipWithIndex.foreach { case (slice, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_hll_s$k")
      slice.toDF("day", "user_id")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = inDir.resolve(f"slice-$k%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 60000L)
    }
    val q = HllRollingIngest.sketches(spark, inDir.toString,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("hll_days")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // every emission is a partial register-max state — merging ALL
    // emissions of a day equals the final state (idempotent), so no
    // emission ordering is assumed
    val perDay = spark.table("hll_days").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSeq }
    // batch twin: the exact SQL-function path hllRolling's estimate uses
    val batchDaily = du.toDF("day", "user_id")
      .groupBy("day")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDay.keySet == batchDaily.keySet)
    perDay.foreach { case (d, sks) =>
      assert(HllRollingIngest.mergedEstimate(sks) == batchDaily(d),
        s"day $d stream estimate diverged from batch")
    }
    // window assembly over the emitted states = the batch 7-day union
    val days = perDay.keys.toSeq.sorted
    val batch7 = du.toDF("day", "user_id")
      .groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .select(explode(expr(
        "sequence(cast(day as date), date_add(cast(day as date), 6))"))
        .as("d"), col("sk"))
      .select(col("d").cast("string").as("day"), col("sk"))
      .groupBy("day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    days.foreach { anchor =>
      val window = days.filter(d => d <= anchor &&
        java.time.LocalDate.parse(d).plusDays(6)
          .compareTo(java.time.LocalDate.parse(anchor)) >= 0)
      val est = HllRollingIngest.mergedEstimate(window.flatMap(perDay))
      assert(est == batch7(anchor), s"anchor $anchor 7-day estimate diverged")
    }
  }

  test("streaming BPE tokenize == batch segmentation on the same corpus (frozen merges)") {
    import graft.streaming.BpeTokenizeIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_bpe_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_bpe_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bpe_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3) // several input files → several micro-batches
      .write.mode("overwrite").parquet(docsDir)
    BpeTokenizeIngest.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(180000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_tokens", "n_bpe", "n_merged").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ext.TextOps.bpeTokenize(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    // the merges actually landed somewhere
    assert(streamed.exists(_._4 > 0))
    assertReplayRewrites(ckpt, outDir)(
      BpeTokenizeIngest.start(spark, docsDir, docsDir, outDir, ckpt))
    graft.engine.Materialize.sweep(spark)
  }

  test("streaming boilerplate flags == batch census n_shared per source (frozen prefix table)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.BoilerplateIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_bp_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_bp_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bp_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(docsDir)
    BoilerplateIngest.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val flags = spark.read.parquet(outDir)
    // every document gets exactly one flag row
    assert(flags.count() == spark.read.parquet(docsDir).count())
    assert(flags.select("doc_id").distinct().count() == flags.count())
    // per source, the flagged total equals the batch census's n_shared
    // (flags on the training corpus ARE membership in a ≥2 group)
    val streamed = flags.groupBy(col("source"))
      .agg(sum(col("boilerplate")).as("n_shared"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.ext.TextOps.boilerplatePrefix(spark, sf())
      .select("source", "n_shared")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assertReplayRewrites(ckpt, outDir)(
      BoilerplateIngest.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming span decontamination == batch overlap spans (frozen eval grams)") {
    import graft.streaming.OverlapSpanIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_span_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_span_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_span_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(docsDir)
    OverlapSpanIngest.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "max_span", "eval_id", "n_flagged").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ext.TextOps.overlapSpans(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty) // sf0.001 carries 2 contaminated docs
    assertReplayRewrites(ckpt, outDir)(
      OverlapSpanIngest.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming RAKE keywords == batch top-k on the same corpus (frozen word scores)") {
    import graft.streaming.RakeIngest
    val docsDir = java.nio.file.Files.createTempDirectory("graft_rake_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_rake_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rake_ck").toString
    spark.read.parquet(s"${sf()}/documents.parquet")
      .repartition(3)
      .write.mode("overwrite").parquet(docsDir)
    RakeIngest.start(spark, docsDir, docsDir, outDir, ckpt)
      .awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "rk", "phrase", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val batch = graft.ext.TextOps.rakeKeywords(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    assertReplayRewrites(ckpt, outDir)(
      RakeIngest.start(spark, docsDir, docsDir, outDir, ckpt))
  }

  test("streaming Holt trend monitor's final readout equals the batch fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.HoltTrendIngest
    // real (event_type, hour) rows; the configured window is the batch
    // grid's global span, which is what makes stream ≡ batch exact
    val th = graft.engine.Tables.load(spark, sf(), "events")
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val lo = th.map(_._2).min
    val hi = th.map(_._2).max
    // 3 micro-batches, stateful carry across all of them
    val slices = th.grouped((th.size + 2) / 3).toSeq
    val inDir = java.nio.file.Files.createTempDirectory("graft_holt_in")
    slices.zipWithIndex.foreach { case (slice, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_holt_s$k")
      slice.toDF("event_type", "h")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val dst = inDir.resolve(f"slice-$k%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1700000000000L + k * 60000L)
    }
    val q = HoltTrendIngest.monitor(spark, inDir.toString, lo, hi,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("holt_monitor")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // final readout per type = the emission with the max observed count
    val finals = spark.table("holt_monitor").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .groupBy(_._1).map { case (ty, g) => ty -> g.maxBy(_._7) }
    val batch = Events.holtTrend(spark, sf()).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(finals.keySet == batch.keySet)
    finals.foreach { case (ty, f) =>
      assert((f._2, f._3, f._4, f._5, f._6) == batch(ty), s"type $ty")
    }
    // statefulness actually exercised: some type emitted more than once
    assert(spark.table("holt_monitor").count() > finals.size)
  }

  test("streaming SLO burn: final emission == batch pager table") {
    import graft.streaming.SloBurnIngest
    val evDir = java.nio.file.Files.createTempDirectory("graft_slo_in").toString
    val ev = graft.engine.Tables.load(spark, sf(), "events")
    ev.repartition(3).write.mode("overwrite").parquet(evDir)
    val q = SloBurnIngest.monitor(spark, evDir, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("slo_monitor")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val all = spark.table("slo_monitor").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)), r.getLong(6)))
    val top = all.map(_._2).max
    val finals = all.filter(_._2 == top).map(_._1).toSet
    val batch = graft.streaming.Events.sloBurnOn(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSet
    assert(finals == batch, s"stream=${finals.size} batch=${batch.size}")
    assert(all.length > finals.size) // re-emitted across micro-batches
  }

  test("streaming seasonal anomaly: final per-cell emission == batch flags") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.SeasonalAnomalyIngest
    val evDir = java.nio.file.Files.createTempDirectory("graft_sa_in").toString
    val ev = graft.engine.Tables.load(spark, sf(), "events")
    ev.repartition(3).write.mode("overwrite").parquet(evDir)
    val q = SeasonalAnomalyIngest.monitor(spark, evDir,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("sa_monitor")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val all = spark.table("sa_monitor").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6)),
        r.getLong(7)))
    // final emission per cell = rows carrying that cell's max n_obs
    val finals = all.groupBy(_._1).toSeq.flatMap { case (cell, rows) =>
      val top = rows.map(_._3).max
      rows.filter(_._3 == top).map(x => (cell._1, cell._2) -> x._2).toSeq
    }.toSet
    val batch = graft.streaming.Events.seasonalAnomalyOn(ev).collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        ((r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6))))
      .toSet
    assert(finals == batch,
      s"stream=${finals.size} batch=${batch.size}")
    // statefulness exercised: some cell re-emitted across micro-batches
    assert(all.length > finals.size)
  }

  test("streaming DQ gate == batch row split and census on the same corpus") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DqGateIngest
    val evDir = java.nio.file.Files.createTempDirectory("graft_dq_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dq_out").toString
    val qDir = java.nio.file.Files.createTempDirectory("graft_dq_q").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dq_ck").toString
    graft.engine.Tables.load(spark, sf(), "events")
      .repartition(3) // several input files → several micro-batches
      .write.mode("overwrite").parquet(evDir)
    DqGateIngest.start(spark, evDir, outDir, qDir, ckpt).awaitTermination(120000)
    val clean = spark.read.parquet(outDir).select("event_id").collect()
      .map(_.getLong(0)).toSet
    val bad = spark.read.parquet(qDir).select("event_id", "viol_bits").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val flagged = Events.dqGateRows(graft.engine.Tables.load(spark, sf(), "events"))
      .select("event_id", "viol_bits", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exact split: every row lands in exactly one sink, bitmaps preserved
    assert(clean == flagged.filter(_._3 == 1).map(_._1).toSet)
    assert(bad == flagged.filter(_._3 == 0).map(x => (x._1, x._2)).toMap)
    assert(bad.nonEmpty && clean.nonEmpty) // the gate actually splits
    // census totals agree with the graded batch op
    val census = Events.dqGate(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(census("events.rows.quarantined") == bad.size.toLong)
    assertReplayRewrites(ckpt, outDir, qDir)(
      DqGateIngest.start(spark, evDir, outDir, qDir, ckpt))
  }

  test("streaming shard-pack: manifest over final chunk emissions == batch manifest") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.ShardPackIngest
    val docDir = java.nio.file.Files.createTempDirectory("graft_sp_in").toString
    graft.engine.Tables.load(spark, sf(), "documents")
      .repartition(3) // several input files → several micro-batches
      .write.mode("overwrite").parquet(docDir)
    val q = ShardPackIngest.monitor(spark, docDir, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("shard_pack")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val all = spark.table("shard_pack")
    // final emission per chunk = the rows carrying that chunk's max
    // n_seen (the most complete within-chunk offset table)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.max
    val finals = all.withColumn("mx",
        max(col("n_seen")).over(Window.partitionBy(col("chunk"))))
      .filter(col("n_seen") === col("mx"))
      .select(col("chunk"), col("media_id"), col("n"), col("pre"))
      // a chunk completed early re-emits identical final tables once per
      // later micro-batch touching it — they're bit-identical, dedup
      .distinct()
      // the manifest fold self-joins its input; checkpoint so the two
      // sides don't share the memory-sink view's attribute lineage
      .localCheckpoint(true)
    // level 2 (carry + shard fold) is the exact code the batch op runs
    val streamed = graft.ext.Multimodal.shardManifestFromPre(finals)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val batch = graft.ext.Multimodal.mediaShardPack(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    // statefulness actually exercised: chunks re-emitted across batches
    assert(all.count() > finals.count())
  }

  test("streaming delta-join view: micro-batched signed deltas ⊕ persisted v0 == batch z-set view") {
    import org.apache.spark.sql.functions.col
    import graft.queries.Warehouse
    val o = Warehouse.mvJoinOrders(spark, sf())
    val p = Warehouse.mvJoinParts(spark, sf())
    // the delta feed: q110's exact signed rows, landed as 3 files so the
    // maintenance genuinely spans micro-batches
    val deltaDir = java.nio.file.Files.createTempDirectory("graft_mvj_in").toString
    Warehouse.zsetDelta(spark, sf())
      .select(col("l_orderkey"), col("l_partkey"), col("q"), col("r"), col("mult"))
      .repartition(3).write.mode("overwrite").parquet(deltaDir)
    // the persisted standing view v0 (read back, never recomputed below)
    val v0Dir = java.nio.file.Files.createTempDirectory("graft_mvj_v0").toString + "/v0"
    Warehouse.zsetTerm(o, p, Warehouse.zsetBase(spark, sf()))
      .write.parquet(v0Dir)
    val q = graft.streaming.MvJoinIngest
      .monitor(spark, deltaDir, o, p, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("mv_join_ingest")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "delta feed collapsed into a single micro-batch")
    val merged = Warehouse.zsetMerge(spark.read.parquet(v0Dir),
        spark.table("mv_join_ingest"))
      .orderBy(col("ym"), col("p_brand")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val batch = Warehouse.q110MvJoinZset(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(merged.nonEmpty && merged == batch,
      s"stream=${merged.size} batch=${batch.size}")
  }

  test("streaming join-view maintenance: micro-batched fact rows ⊕ persisted v0 == full batch join view") {
    import org.apache.spark.sql.functions.col
    val d = graft.engine.MatView.joinRegistry("lineitem_orders")
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
    val o = graft.engine.Tables.load(spark, sf(), "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    // base (standing view input) vs the new-arrivals feed, landed as 3
    // files so the maintenance genuinely spans micro-batches
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft_jvi_in").toString
    li.filter(col("l_linenumber") >= 5)
      .repartition(3).write.mode("overwrite").parquet(deltaDir)
    val v0Dir = java.nio.file.Files
      .createTempDirectory("graft_jvi_v0").toString + "/v0"
    graft.engine.MatView
      .aggregateJoin(li.filter(col("l_linenumber") <= 4), o, d)
      .write.parquet(v0Dir)
    val q = graft.streaming.JoinViewIngest
      .monitor(spark, deltaDir, o, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("join_view_ingest")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "delta feed collapsed into a single micro-batch")
    // full-row compare: the view also carries the measure states
    // (sum/min/max of integral-valued doubles — exact at any add order)
    def key(r: org.apache.spark.sql.Row) = r.toSeq
    val merged = graft.engine.MatView
      .applyDeltaJoin(spark.read.parquet(v0Dir),
        spark.table("join_view_ingest"), d)
      .orderBy(d.dims.map(col): _*).collect().map(key).toSeq
    val batch = graft.engine.MatView.aggregateJoin(li, o, d)
      .orderBy(d.dims.map(col): _*).collect().map(key).toSeq
    assert(merged.nonEmpty && merged == batch,
      s"stream=${merged.size} batch=${batch.size}")
  }

  test("streaming bootstrap CI: micro-batched replicate states == batch CI readout") {
    import org.apache.spark.sql.functions.col
    val ev = graft.streaming.Events.bootstrapPurchases(spark, sf())
    val feedDir = java.nio.file.Files
      .createTempDirectory("graft_boot_in").toString
    ev.repartition(3).write.mode("overwrite").parquet(feedDir)
    val q = graft.streaming.BootstrapIngest
      .monitor(spark, feedDir, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("bootstrap_ingest")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "feed collapsed into a single micro-batch")
    val streamed = graft.streaming.Events
      .bootstrapCiFrom(spark.table("bootstrap_ingest"), ev)
      .collect().map(_.toSeq).toSeq
    val batch = graft.streaming.Events.bootstrapCi(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream=$streamed batch=$batch")
  }

  test("streaming two-sample states reproduce the batch KS and MWU rows exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.TwoSampleIngest
    // the batch operators' own projection: (epoch day, cent value)
    val dq = graft.engine.Tables.load(spark, sf(), "events")
      .select(expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").cast("long").as("d"),
        expr("cast(round(value * 100.0d) as bigint)").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val mid = (dq.map(_._1).min + dq.map(_._1).max) / 2
    val inDir = java.nio.file.Files.createTempDirectory("graft_2s_in")
    dq.grouped((dq.size + 2) / 3).zipWithIndex.foreach { case (slice, k) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_2s_s$k")
      slice.toDF("d", "q")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, inDir.resolve(f"slice-$k%02d.parquet"))
      inDir.resolve(f"slice-$k%02d.parquet").toFile
        .setLastModified(1700000000000L + k * 60000L)
    }
    val q = TwoSampleIngest.counts(spark, inDir.toString, mid,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("twosample_counts")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // final state per value = the emission with the largest running total
    val finals = spark.table("twosample_counts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (_, xs) => xs.maxBy(x => x._2 + x._3) }
      .toSeq
    val ksB = graft.streaming.Events.ksTest(spark, sf()).head
    assert(TwoSampleIngest.ksFromStates(finals) ==
      ((ksB.getLong(0), ksB.getLong(1), ksB.getLong(2), ksB.getLong(3),
        ksB.getLong(4))), "KS stream != batch")
    val mwB = graft.streaming.Events.mwuTest(spark, sf()).head
    assert(TwoSampleIngest.mwuFromStates(finals) ==
      ((mwB.getLong(0), mwB.getLong(1), mwB.getLong(2), mwB.getLong(3),
        mwB.getLong(4), mwB.getLong(5))), "MWU stream != batch")
  }
}
