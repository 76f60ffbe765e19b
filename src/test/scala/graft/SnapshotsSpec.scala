package graft

import org.apache.spark.sql.functions._

import graft.engine.Snapshots

/** Contract tests for the versioned snapshot store: commit semantics
  * (append vs replace), time travel, manifest-gated visibility, and the
  * single-writer publish protocol.
  */
class SnapshotsSpec extends SparkSpecBase {

  private def freshTable(name: String): String = {
    val dir = s"${graft.engine.WorkDirs.processScoped("graft_test_snap")}/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  private def df(range: Range) = {
    import spark.implicits._
    range.map(i => (i.toLong, s"row$i")).toDF("id", "v")
  }

  test("append commits accumulate; replace commits supersede; history stays readable") {
    val t = freshTable("basic")
    assert(Snapshots.versions(spark, t).isEmpty)
    assert(Snapshots.commit(df(1 to 10), t, append = false) == 0)
    assert(Snapshots.commit(df(11 to 15), t, append = true) == 1)
    assert(Snapshots.commit(df(100 to 102), t, append = false) == 2)
    assert(Snapshots.versions(spark, t) == Seq(0, 1, 2))
    // time travel: every historical version reproduces after the replace
    assert(Snapshots.read(spark, t, 0).count() == 10)
    assert(Snapshots.read(spark, t, 1).count() == 15)
    assert(Snapshots.read(spark, t, 2).count() == 3)
    // latest by default
    assert(Snapshots.read(spark, t).agg(min(col("id"))).head.getLong(0) == 100L)
    // v1 contents are exactly v0 + the appended batch
    assert(Snapshots.read(spark, t, 1).agg(sum(col("id"))).head.getLong(0)
      == (1 to 15).sum.toLong)
  }

  test("data without a manifest is invisible (readers see committed versions only)") {
    val t = freshTable("gated")
    Snapshots.commit(df(1 to 5), t, append = false)
    // simulate a writer that died after writing data but before publishing
    df(90 to 99).write.parquet(s"$t/data/batch-orphan")
    assert(Snapshots.read(spark, t).count() == 5)
    assert(Snapshots.versions(spark, t) == Seq(0))
  }

  test("diff emits exact insert/delete deltas between versions") {
    val t = freshTable("cdc")
    Snapshots.commit(df(1 to 10), t, append = false)
    Snapshots.commit(df(11 to 15), t, append = true)
    // v2: drop ids <= 3, keep the rest
    Snapshots.commit(Snapshots.read(spark, t, 1).filter(col("id") > 3), t, append = false)
    val d01 = Snapshots.diff(spark, t, 0, 1).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSet
    assert(d01 == (11 to 15).map(i => ("insert", i.toLong)).toSet)
    val d12 = Snapshots.diff(spark, t, 1, 2).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSet
    assert(d12 == (1 to 3).map(i => ("delete", i.toLong)).toSet)
    assert(Snapshots.diff(spark, t, 2, 2).isEmpty)
  }

  test("vacuum drops expired versions and only unreferenced batches") {
    val t = freshTable("vac")
    Snapshots.commit(df(1 to 10), t, append = false)   // batch of v0
    Snapshots.commit(df(11 to 15), t, append = true)   // batch of v1 (refs v0's)
    Snapshots.commit(df(100 to 102), t, append = false) // batch of v2 only
    Snapshots.commit(df(103 to 104), t, append = true)  // batch of v3 (refs v2's)
    val dead = Snapshots.vacuum(spark, t, keepFrom = 2)
    // v0's and v1's batches are referenced by no surviving manifest → gone
    // (batch dir names are writer-unique: batch-<v>-<nonce>)
    assert(dead.size == 2 && dead.forall(d =>
      d.startsWith("data/batch-0-") || d.startsWith("data/batch-1-")), dead.mkString(","))
    assert(Snapshots.versions(spark, t) == Seq(2, 3))
    assert(Snapshots.read(spark, t, 3).count() == 5)
    intercept[IllegalArgumentException](Snapshots.read(spark, t, 1))
    // vacuum at a version whose manifest still references an older batch
    // must keep that batch: keepFrom=3 references batch-2 → only the v2
    // manifest goes, no data deleted
    val dead2 = Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(dead2.isEmpty && Snapshots.read(spark, t, 3).count() == 5)
  }

  test("manifest stats prune whole batch directories; unstatted batches survive") {
    val t = freshTable("stats")
    Snapshots.commit(df(1 to 100), t, append = false, statsCol = Some("id"))
    Snapshots.commit(df(101 to 200), t, append = true, statsCol = Some("id"))
    Snapshots.commit(df(201 to 300), t, append = true) // no stats recorded
    val pruned = Snapshots.readPruned(spark, t, "id", 10L, 50L)
    // v1's batch ([101,200], disjoint) is skipped on the manifest alone;
    // v2's has no envelope and must be kept conservatively
    val files = pruned.inputFiles.toSeq
    assert(files.exists(_.contains("batch-0-")) && files.exists(_.contains("batch-2-")))
    assert(!files.exists(_.contains("batch-1-")), files.mkString(","))
    // pruning never changes results
    assert(pruned.count() == 41)
    assert(Snapshots.readPruned(spark, t, "id", 150L, 260L).count() ==
      Snapshots.read(spark, t).filter(col("id").between(150, 260)).count())
    // a range missing every batch still returns an empty, well-typed frame
    assert(Snapshots.readPruned(spark, t, "id", 1000L, 2000L).count() == 0)
  }

  test("manifest blooms skip hash-split batches a range envelope cannot") {
    val t = freshTable("bloom")
    // four batches split BY HASH of the key: every envelope spans the
    // full range, so min/max stats alone keep all four
    (0 until 4).foreach { i =>
      Snapshots.commit(df(1 to 400).filter(col("id") % 4 === i), t,
        append = i > 0, statsCol = Some("id"), bloomFpp = 0.01)
    }
    val keys = Seq(5L, 9L, 201L) // all ≡ 1 mod 4 → live in one batch
    val kept = Snapshots.pointBatches(spark, t, "id", keys)
    // the residue-1 batch must survive (no false negatives); the other
    // three are rejected by their blooms (400 items at 1% fpp — a false
    // positive keeping a 4th batch would still be correct, just slower,
    // so tolerate at most one)
    assert(kept.nonEmpty && kept.size <= 2, kept.mkString(","))
    val got = Snapshots.readPoint(spark, t, "id", keys)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == keys.sorted)
    // exactness against the plain read, including a missing key
    val askMissing = Seq(6L, 1000L)
    assert(Snapshots.readPoint(spark, t, "id", askMissing).collect()
      .map(_.getLong(0)).toSeq == Seq(6L))
    // a batch without stats is conservatively kept
    Snapshots.commit(df(401 to 410), t, append = true)
    assert(Snapshots.pointBatches(spark, t, "id", Seq(5L))
      .exists(_.startsWith("data/batch-4-")))
    // deletes compose: removing a probed key removes it from the lookup
    import spark.implicits._
    Snapshots.deleteRows(Seq(9L).toDF("id"), t, "id")
    assert(Snapshots.readPoint(spark, t, "id", keys).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(5L, 201L))
  }

  test("overwriteRange: metadata replace-where — drop, mask, travel, fold, rebase-abort") {
    val t = freshTable("rw")
    Snapshots.commit(df(1 to 100), t, append = false, statsCol = Some("id"))    // v0
    Snapshots.commit(df(101 to 200), t, append = true, statsCol = Some("id"))   // v1
    import spark.implicits._
    def vals(dfm: org.apache.spark.sql.DataFrame) =
      dfm.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // fully-covered batch [101,200] drops; [1,100] untouched, no mask needed
    Snapshots.overwriteRange(
      (101 to 200).map(i => (i.toLong, s"new$i")).toDF("id", "v"),
      t, "id", 101L, 200L)                                                      // v2
    val v2 = vals(Snapshots.read(spark, t))
    assert(v2.size == 200 && v2(150L) == "new150" && v2(50L) == "row50")
    // straddling overwrite [51,120]: masks both surviving batches
    Snapshots.overwriteRange(
      (51 to 120).map(i => (i.toLong, s"x$i")).toDF("id", "v"),
      t, "id", 51L, 120L)                                                       // v3
    val v3 = vals(Snapshots.read(spark, t))
    assert(v3.size == 200 && v3(50L) == "row50" && v3(51L) == "x51" &&
      v3(120L) == "x120" && v3(121L) == "new121")
    // time travel: pre-overwrite versions still see original rows
    assert(vals(Snapshots.read(spark, t, 1))(150L) == "row150")
    assert(vals(Snapshots.read(spark, t, 2))(51L) == "row51")
    // incoming rows outside the range abort with nothing staged
    intercept[IllegalArgumentException](
      Snapshots.overwriteRange(df(1 to 5), t, "id", 10L, 20L))
    // pruned/point reads respect masks
    assert(Snapshots.readPruned(spark, t, "id", 40L, 60L).count() == 21)
    assert(Snapshots.readPoint(spark, t, "id", Seq(55L)).collect()
      .map(_.getString(1)).toSeq == Seq("x55"))
    // optimize bakes masks into the fold and drops the M lines
    val vOpt = Snapshots.optimize(spark, t)
    val v4 = vals(Snapshots.read(spark, t, vOpt))
    assert(v4 == v3)
    // ANY commit landing between read-base and publish aborts loudly
    // and leaves the table untouched (strictest arbitration)
    val before = Snapshots.read(spark, t).count()
    val ex = intercept[IllegalStateException](
      Snapshots.overwriteRange(
        (1 to 10).map(i => (i.toLong, "z")).toDF("id", "v"), t, "id", 1L, 10L,
        beforePublish = () =>
          { Snapshots.commit(df(201 to 210), t, append = true); () }))
    assert(ex.getMessage.contains("rerun overwriteRange"))
    assert(Snapshots.read(spark, t).count() == before + 10) // only the append landed
  }

  test("a dead writer's unpublished batch doesn't wedge the next commit") {
    val t = freshTable("recover")
    Snapshots.commit(df(1 to 5), t, append = false)
    // simulate a writer that staged data and died before publishing —
    // writer-unique names mean the orphan neither collides nor becomes
    // visible; it's just unreferenced garbage
    df(90 to 99).write.parquet(s"$t/data/batch-1-deadbeef")
    assert(Snapshots.commit(df(6 to 8), t, append = true) == 1)
    assert(Snapshots.read(spark, t).count() == 8)
    assert(Snapshots.read(spark, t).agg(max(col("id"))).head.getLong(0) == 8L)
  }

  test("vacuum sweeps crashed-writer orphans past the grace window, spares fresh ones") {
    val t = freshTable("orphan")
    Snapshots.commit(df(1 to 5), t, append = false)
    Snapshots.commit(df(6 to 8), t, append = true)
    // a dead writer's staged-but-unpublished batch: referenced by no
    // manifest, so without the orphan sweep it would leak forever
    df(90 to 99).write.parquet(s"$t/data/batch-9-deadbeef")
    // within the grace window (default 1 h) it's treated as possibly
    // LIVE and spared
    val spared = Snapshots.vacuum(spark, t, keepFrom = 0)
    assert(spared.isEmpty)
    assert(Snapshots.read(spark, t).count() == 8)
    // past the grace window (negative grace → cutoff in the future) it
    // goes, and committed data is untouched
    val swept = Snapshots.vacuum(spark, t, keepFrom = 0, orphanGraceMs = -1000L)
    assert(swept == Seq("data/batch-9-deadbeef"), swept.mkString(","))
    assert(Snapshots.read(spark, t).count() == 8)
    assert(Snapshots.versions(spark, t) == Seq(0, 1))
  }

  test("two concurrent committers serialize: both batches visible, no version lost") {
    val t = freshTable("mw")
    Snapshots.commit(df(0 to 0), t, append = true) // v0 seed
    // 4 threads × 3 appends racing on the same table: the optimistic
    // publish loop must serialize them into 12 consecutive versions with
    // every batch visible at the final one (the pre-r7 single-writer
    // protocol made one racer throw or silently clobber)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (0 until 4).flatMap { w =>
      (0 until 3).map { i =>
        scala.concurrent.Future {
          Snapshots.commit(df(1000 * w + 10 * i to 1000 * w + 10 * i + 4),
            t, append = true)
        }
      }
    }
    val vs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(vs.sorted == (1 to 12), s"versions not consecutive: $vs")
    assert(Snapshots.versions(spark, t) == (0 to 12))
    // every writer's every batch is in the final table
    assert(Snapshots.read(spark, t).count() == 1 + 12 * 5)
    // and each intermediate version is exactly its predecessor + 5 rows
    val counts = (0 to 12).map(v => Snapshots.read(spark, t, v).count())
    assert(counts == (0 to 12).map(v => 1L + 5L * v))
  }

  test("schema evolution: a later append may add a column; old rows read it as null") {
    import spark.implicits._
    val t = freshTable("evolve")
    Snapshots.commit(df(1 to 5), t, append = false)
    val evolved = Seq((6L, "row6", "fr"), (7L, "row7", "de"))
      .toDF("id", "v", "lang")
    Snapshots.commit(evolved, t, append = true)
    val merged = Snapshots.read(spark, t, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("id", "lang", "v"))
    assert(merged.count() == 7)
    assert(merged.filter(col("lang").isNull).count() == 5)
    assert(merged.filter(col("lang") === "fr").select("id").head.getLong(0) == 6L)
    // time travel predates the evolution: v0 still has the narrow schema
    assert(Snapshots.read(spark, t, 0).columns.sorted.toSeq == Seq("id", "v"))
  }

  test("model check: random commit sequences reproduce at every version (seeded)") {
    // model-based randomized check: the store must agree with a plain
    // in-memory model of "append = union, replace = supersede" at EVERY
    // version, for arbitrary commit sequences — the law the example
    // tests sample. Fixed seed keeps the run reproducible.
    val rnd = new scala.util.Random(20260812L)
    val t = freshTable("model")
    var model = Vector.empty[Set[Long]]
    for (v <- 0 until 8) {
      // per-version id range keeps batches disjoint, so set and multiset
      // semantics coincide and the diff check below is exact
      val ids = (0 until (1 + rnd.nextInt(40)))
        .map(_ => v * 1000L + rnd.nextLong(500L)).toSet
      val append = v > 0 && rnd.nextBoolean()
      val batch = {
        import spark.implicits._
        ids.toSeq.map(i => (i, s"row$i")).toDF("id", "v")
      }
      Snapshots.commit(batch, t, append = append)
      model = model :+ (if (append) model.last ++ ids else ids)
    }
    for (v <- 0 until 8) {
      val got = Snapshots.read(spark, t, v).select("id").collect().map(_.getLong(0)).toSet
      assert(got == model(v), s"version $v drifted")
    }
    // diff agrees with model set algebra for a random version pair
    val (a, b) = (2, 6)
    val ins = Snapshots.diff(spark, t, a, b).filter(col("change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSet
    val del = Snapshots.diff(spark, t, a, b).filter(col("change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ins == model(b) -- model(a) && del == model(a) -- model(b))
  }

  test("row-level delete is metadata-only; deletes stack, survive appends, and time-travel away") {
    import spark.implicits._
    val t = freshTable("del")
    Snapshots.commit(df(1 to 20), t, append = false)
    assert(Snapshots.deleteRows(Seq(3L, 7L, 11L).toDF("id"), t, "id") == 1)
    // metadata-only: no new data batch landed, just the delete file
    val dataDirs = {
      val p = new org.apache.hadoop.fs.Path(s"$t/data")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).length
    }
    assert(dataDirs == 1)
    assert(Snapshots.read(spark, t).select("id").collect().map(_.getLong(0)).toSet
      == ((1 to 20).map(_.toLong).toSet -- Set(3L, 7L, 11L)))
    // time travel: the pre-delete version still shows the deleted rows
    assert(Snapshots.read(spark, t, 0).count() == 20)
    // appends carry the delete forward
    Snapshots.commit(df(21 to 25), t, append = true)
    assert(Snapshots.read(spark, t, 2).count() == 22)
    // a second delete stacks on the first
    Snapshots.deleteRows(Seq(21L, 5L).toDF("id"), t, "id")
    assert(Snapshots.read(spark, t, 3).count() == 20)
    // pruned read == plain filter under deletes
    assert(Snapshots.readPruned(spark, t, "id", 1, 10).select("id")
      .collect().map(_.getLong(0)).toSet
      == ((1 to 10).map(_.toLong).toSet -- Set(3L, 5L, 7L)))
  }

  test("compactDeletes folds deletes, carries envelope-disjoint batches, vacuum reclaims") {
    import spark.implicits._
    val t = freshTable("delfold")
    val sc = Some("id")
    Snapshots.commit(df(1 to 10), t, append = false, statsCol = sc)  // envelope [1, 10]
    Snapshots.commit(df(11 to 20), t, append = true, statsCol = sc)  // envelope [11, 20]
    Snapshots.deleteRows(Seq(12L, 15L).toDF("id"), t, "id")          // hits only batch 1
    assert(Snapshots.compactDeletes(spark, t, statsCol = sc) == 3)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Int): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(f"$t/_versions/v$v%05d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // the [1,10] batch's envelope misses [12,15] → its line (stats and
    // all) is carried verbatim; no delete lines remain
    assert(manifest(3).contains("data/batch-0-"))
    assert(!manifest(3).contains("D\t"))
    assert(Snapshots.read(spark, t, 3).select("id").collect().map(_.getLong(0)).toSet
      == ((1 to 20).map(_.toLong).toSet -- Set(12L, 15L)))
    // surviving time travel: pre-fold versions still resolve their deletes
    assert(Snapshots.read(spark, t, 2).count() == 18)
    assert(Snapshots.read(spark, t, 1).count() == 20)
    // vacuum past the fold reclaims the delete file and the pre-rewrite
    // [11,20] batch; the carried [1,10] batch stays (still referenced)
    val dead = Snapshots.vacuum(spark, t, keepFrom = 3)
    assert(dead.exists(_.startsWith("deletes/del-")), dead.mkString(","))
    assert(dead.exists(_.startsWith("data/batch-1-")), dead.mkString(","))
    assert(!dead.exists(_.startsWith("data/batch-0-")), dead.mkString(","))
    assert(Snapshots.read(spark, t, 3).count() == 18)
  }

  test("an injected coordinator's lost race drives the rebase-retry path") {
    val t = freshTable("coord")
    Snapshots.commit(df(1 to 5), t, append = false)
    // the competitor's batch is staged up front; the mock coordinator
    // lands it in the contested slot at the writer's first attempt and
    // reports the loss — exactly what an external (DynamoDB-style)
    // coordinator does when another writer won the slot
    df(100 to 101).write.parquet(s"$t/data/batch-race-mock")
    val real = Snapshots.coordinator
    @volatile var raced = false
    Snapshots.coordinator = new Snapshots.CommitCoordinator {
      def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem, dir: String,
          v: Int, nonce: String, batches: Seq[String]): Boolean =
        if (!raced) {
          raced = true
          assert(real.publishIfAbsent(f, dir, v, "mock", Seq("data/batch-race-mock")))
          false
        } else real.publishIfAbsent(f, dir, v, nonce, batches)
    }
    try {
      // the writer targets slot 1, loses it to the mock's competitor,
      // rebases onto the competitor's (replace-style) manifest, and lands
      // at slot 2 carrying the competitor's batch plus its own
      assert(Snapshots.commit(df(6 to 8), t, append = true) == 2)
      assert(raced)
      assert(Snapshots.read(spark, t, 2).select("id").collect().map(_.getLong(0)).toSet
        == Set(100L, 101L, 6L, 7L, 8L))
      // optimize folds the version it read: losing its slot aborts the
      // fold and reclaims the staged batch instead of leaking it
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dataDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/data"))
        .map(_.getPath.getName).toSet
      val before = dataDirs()
      raced = false
      val e = intercept[IllegalStateException](Snapshots.optimize(spark, t))
      assert(raced)
      assert(e.getMessage.contains("rerun optimize"), e.getMessage)
      assert(dataDirs() == before, s"optimize left ${dataDirs() -- before}")
    } finally Snapshots.coordinator = real
  }

  test("commitReplaceWithTxn: exactly-once maintenance rewrite — covered replays stage nothing, foreign ledgers survive the replace") {
    val t = freshTable("txnrep")
    // a stream ingests two batches, then a maintenance pass rewrites the
    // table carrying its own ledger mark in the same publish
    assert(Snapshots.commitWithTxn(df(1 to 5), t, "st", 0L) == Some(0))
    assert(Snapshots.commitWithTxn(df(6 to 9), t, "st", 1L) == Some(1))
    assert(Snapshots.commitReplaceWithTxn(df(10 to 12), t, "maint", 1L)
      == Some(2))
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == Set(10L, 11L, 12L))
    // the replace carried the INGEST ledger forward (a rewrite cannot
    // reopen the door to stream replays) and recorded its own mark
    assert(Snapshots.lastTxn(spark, t, "st") == Some(1L))
    assert(Snapshots.lastTxn(spark, t, "maint") == Some(1L))
    assert(Snapshots.commitWithTxn(df(6 to 9), t, "st", 1L) == None)
    // replayed maintenance at a covered id: no version, no rows, no files
    assert(Snapshots.commitReplaceWithTxn(df(90 to 99), t, "maint", 1L)
      == None)
    assert(Snapshots.commitReplaceWithTxn(df(90 to 99), t, "maint", 0L)
      == None)
    assert(Snapshots.versions(spark, t) == Seq(0, 1, 2))
    // a LATER maintenance batch id replaces again and advances the mark
    assert(Snapshots.commitReplaceWithTxn(df(20 to 21), t, "maint", 3L)
      == Some(3))
    assert(Snapshots.lastTxn(spark, t, "maint") == Some(3L))
    assert(Snapshots.read(spark, t).count() == 2)
  }

  test("commitWithTxn: replays skip; txn marks survive appends, replaces, and compaction") {
    val t = freshTable("txn")
    assert(Snapshots.commitWithTxn(df(1 to 5), t, "app", 0L) == Some(0))
    // replay of the same batch id: no new version, no new rows
    assert(Snapshots.commitWithTxn(df(1 to 5), t, "app", 0L) == None)
    assert(Snapshots.versions(spark, t) == Seq(0))
    assert(Snapshots.read(spark, t).count() == 5)
    assert(Snapshots.lastTxn(spark, t, "app") == Some(0L))
    // next batch advances; an OLD batch id replayed later still skips
    assert(Snapshots.commitWithTxn(df(6 to 9), t, "app", 1L) == Some(1))
    assert(Snapshots.commitWithTxn(df(6 to 9), t, "app", 0L) == None)
    assert(Snapshots.read(spark, t).count() == 9)
    // independent streams ingest under their own appIds
    assert(Snapshots.commitWithTxn(df(100 to 101), t, "other", 0L) == Some(2))
    assert(Snapshots.lastTxn(spark, t, "app") == Some(1L))
    assert(Snapshots.lastTxn(spark, t, "other") == Some(0L))
    // a plain append carries the ledger; a REPLACE must too (a rewrite
    // cannot reopen the door to replays)
    Snapshots.commit(df(200 to 202), t, append = true)
    assert(Snapshots.lastTxn(spark, t, "app") == Some(1L))
    Snapshots.commit(df(300 to 304), t, append = false)
    assert(Snapshots.lastTxn(spark, t, "app") == Some(1L))
    assert(Snapshots.commitWithTxn(df(6 to 9), t, "app", 1L) == None)
    // delete + compactDeletes keep the ledger, and vacuum with txn lines
    // in dropped manifests never touches live data (empty-path guard)
    import spark.implicits._
    Snapshots.deleteRows(Seq(300L).toDF("id"), t, "id")
    Snapshots.compactDeletes(spark, t)
    assert(Snapshots.lastTxn(spark, t, "app") == Some(1L))
    val vTop = Snapshots.latestVersion(spark, t)
    Snapshots.vacuum(spark, t, keepFrom = vTop, orphanGraceMs = 3600L * 1000)
    assert(Snapshots.read(spark, t).count() == 4)
    assert(Snapshots.lastTxn(spark, t, "app") == Some(1L))
  }

  test("optimize folds small batches, carries deletes + txn marks, keeps history") {
    import spark.implicits._
    val t = freshTable("optimize")
    // a streaming-shaped accumulation: many small append commits with a
    // txn ledger, plus a pending row-level delete
    (0 to 4).foreach(i =>
      Snapshots.commitWithTxn(df(i * 10 + 1 to i * 10 + 5), t, "st", i.toLong))
    Snapshots.deleteRows(Seq(3L, 14L).toDF("id"), t, "id")
    val vBefore = Snapshots.latestVersion(spark, t)
    val before = Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(before.size == 23) // 25 appended − 2 deleted
    val vOpt = Snapshots.optimize(spark, t)
    assert(vOpt == vBefore + 1)
    // content-neutral: the rewrite copies RAW data, deletes still apply
    assert(Snapshots.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet == before)
    // the txn ledger survives — a replayed micro-batch still skips
    assert(Snapshots.lastTxn(spark, t, "st") == Some(4L))
    assert(Snapshots.commitWithTxn(df(1 to 5), t, "st", 4L) == None)
    // time travel below the optimize is untouched
    assert(Snapshots.read(spark, t, 2).count() == 15)
    // already-compact tables are a no-op
    assert(Snapshots.optimize(spark, t) == vOpt)
  }

  test("optimize merges evolved schemas and re-derives a unanimous stats envelope") {
    import spark.implicits._
    val t = freshTable("optimize_evolve")
    Snapshots.commit(df(1 to 100), t, append = false, statsCol = Some("id"))
    val evolved = Seq((101L, "row101", "fr"), (102L, "row102", "de"))
      .toDF("id", "v", "lang")
    Snapshots.commit(evolved, t, append = true, statsCol = Some("id"))
    val vOpt = Snapshots.optimize(spark, t)
    // the fold reads schema-merged: the late column survives the rewrite
    val merged = Snapshots.read(spark, t, mergeSchema = true)
    assert(merged.columns.sorted.toSeq == Seq("id", "lang", "v"))
    assert(merged.filter(col("lang") === "fr").count() == 1)
    assert(merged.filter(col("lang").isNull).count() == 100)
    // both pre-fold envelopes were on "id", so the folded batch gets a
    // re-derived envelope without the caller restating statsCol: a
    // later disjoint-range pruned read must skip the folded batch
    Snapshots.commit(df(201 to 300) , t, append = true, statsCol = Some("id"))
    val files = Snapshots.readPruned(spark, t, "id", 250L, 260L).inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(s"batch-${vOpt + 1}-")),
      files.mkString(","))
  }

  test("immutability: a commit never rewrites earlier batches") {
    val t = freshTable("immutable")
    Snapshots.commit(df(1 to 5), t, append = false)
    // locate v0's (writer-unique) batch dir through the store itself
    val b0 = new java.io.File(Snapshots.read(spark, t, 0).inputFiles.head
      .stripPrefix("file:")).getParent
    val p = new org.apache.hadoop.fs.Path(b0)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(p).map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    Snapshots.commit(df(6 to 9), t, append = true)
    Snapshots.commit(df(0 to 0), t, append = false)
    val after = fs.listStatus(p).map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    assert(before == after)
  }

  test("deleteRows racing optimize: both land; manifest references only live batches") {
    import spark.implicits._
    val t = freshTable("race_del_opt")
    Snapshots.commit(df(1 to 10), t, append = false)
    Snapshots.commit(df(11 to 20), t, append = true)
    Snapshots.commit(df(21 to 30), t, append = true)
    // optimize lands AFTER the delete staged its key file but BEFORE its
    // first publish attempt — the VERDICT r8 interleave
    var vOpt = -1
    val vDel = Snapshots.deleteRows(Seq(5L, 25L).toDF("id"), t, "id",
      beforePublish = () => { vOpt = Snapshots.optimize(spark, t) })
    assert(vOpt >= 0 && vDel == vOpt + 1, s"delete should rebase past optimize ($vOpt, $vDel)")
    // both effects visible: folded data minus the deleted keys
    assert(Snapshots.read(spark, t).select("id").as[Long].collect().toSet
      == ((1L to 30L).toSet -- Set(5L, 25L)))
    // the published manifest references only batch dirs that exist on disk
    val live = Snapshots.read(spark, t).inputFiles
    assert(live.nonEmpty && live.forall(f => new java.io.File(
      f.stripPrefix("file:")).exists()))
  }

  test("deleteRows racing a replace aborts loudly and leaves the table untouched") {
    import spark.implicits._
    val t = freshTable("race_del_replace")
    Snapshots.commit(df(1 to 10), t, append = false)
    val e = intercept[IllegalStateException] {
      Snapshots.deleteRows(Seq(5L).toDF("id"), t, "id",
        beforePublish = () => Snapshots.commit(df(100 to 105), t, append = false))
    }
    assert(e.getMessage.contains("replaced"), e.getMessage)
    // the replace's state is intact — no delete applied, no delete line
    assert(Snapshots.read(spark, t).select("id").as[Long].collect().toSet
      == (100L to 105L).toSet)
    // the aborted delete's staged key file was reclaimed
    val delRoot = new java.io.File(s"$t/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty)
  }

  test("deleteRows rejects a key column the table doesn't carry") {
    import spark.implicits._
    val t = freshTable("del_badcol")
    Snapshots.commit(df(1 to 5), t, append = false)
    val e = intercept[IllegalArgumentException] {
      Snapshots.deleteRows(Seq(1L).toDF("nope"), t, "nope")
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(Snapshots.read(spark, t).count() == 5)
  }

  test("shallow clone: zero-copy fork, divergence isolation, optimize self-contains") {
    import spark.implicits._
    val src = freshTable("clone_src")
    val dst = freshTable("clone_dst")
    Snapshots.commit(df(1 to 10), src, append = false)
    Snapshots.commit(df(11 to 15), src, append = true)
    // fork at v0 — the clone must see v0's content without copying data
    assert(Snapshots.cloneTable(spark, src, dst, version = 0) == 0)
    assert(Snapshots.read(spark, dst).count() == 10)
    val dstData = new java.io.File(s"$dst/data")
    assert(!dstData.exists() || dstData.listFiles().isEmpty,
      "shallow clone copied data")
    // divergence: append lands in the clone's OWN data dir; parent unmoved
    Snapshots.commit(df(100 to 101), dst, append = true)
    assert(Snapshots.read(spark, dst).count() == 12)
    assert(Snapshots.read(spark, src).count() == 15)
    assert(Snapshots.latestVersion(spark, src) == 1)
    assert(dstData.listFiles().nonEmpty, "clone commit did not land locally")
    // pending parent deletes at the fork point carry over
    val src2 = freshTable("clone_src2")
    val dst2 = freshTable("clone_dst2")
    Snapshots.commit(df(1 to 10), src2, append = false)
    Snapshots.deleteRows(Seq(3L, 4L).toDF("id"), src2, "id")
    Snapshots.cloneTable(spark, src2, dst2)
    assert(Snapshots.read(spark, dst2).select("id").as[Long].collect().toSet
      == ((1L to 10L).toSet -- Set(3L, 4L)))
    // optimize materializes: after it, the clone references only local
    // batches — prove it by deleting the PARENT outright and reading
    Snapshots.optimize(spark, dst)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(srcPath, true)
    assert(Snapshots.read(spark, dst).count() == 12)
    // clone refuses to overwrite an existing table
    intercept[IllegalArgumentException] {
      Snapshots.cloneTable(spark, src, dst)
    }
  }

  test("vacuum on a clone never reclaims (or reports) parent files") {
    val src = freshTable("clone_vac_src")
    val dst = freshTable("clone_vac_dst")
    Snapshots.commit(df(1 to 10), src, append = false)
    Snapshots.cloneTable(spark, src, dst)
    // diverge: a replace makes the clone's v0 (parent refs) droppable
    Snapshots.commit(df(100 to 104), dst, append = false)
    val freed = Snapshots.vacuum(spark, dst, keepFrom = 1, orphanGraceMs = 0)
    // the fork manifest is gone, the parent's batch is NOT in the freed
    // list and still exists on disk — the parent table reads untouched
    assert(freed.forall(!_.startsWith("/")), s"foreign path reported freed: $freed")
    assert(Snapshots.read(spark, src).count() == 10)
    assert(Snapshots.read(spark, dst).count() == 5)
    assert(Snapshots.versions(spark, dst) == Seq(1))
  }

  test("tags: immutable named pins resolve through replaces") {
    val t = freshTable("tags")
    Snapshots.commit(df(1 to 10), t, append = false)
    assert(Snapshots.tag(spark, t, "release-1") == 0)
    Snapshots.commit(df(100 to 102), t, append = false) // replace
    Snapshots.commit(df(103 to 104), t, append = true)
    assert(Snapshots.tag(spark, t, "release-2", version = 1) == 1)
    assert(Snapshots.tags(spark, t) == Seq("release-1" -> 0, "release-2" -> 1))
    assert(Snapshots.readTagged(spark, t, "release-1").count() == 10)
    assert(Snapshots.readTagged(spark, t, "release-2").count() == 3)
    // immutable: re-tagging fails loudly
    intercept[Exception] { Snapshots.tag(spark, t, "release-1", version = 2) }
    assert(Snapshots.tagVersion(spark, t, "release-1") == 0)
    // invalid names rejected before touching the filesystem
    intercept[IllegalArgumentException] { Snapshots.tag(spark, t, "../evil") }
  }

  test("vacuum never reclaims a tagged version; untagged expired history goes") {
    val t = freshTable("tagvac")
    Snapshots.commit(df(1 to 10), t, append = false)    // v0: tagged
    Snapshots.tag(spark, t, "pinned")
    Snapshots.commit(df(100 to 102), t, append = false) // v1: untagged replace
    Snapshots.commit(df(200 to 204), t, append = false) // v2: head
    // keepVersions overload: retention window 1, but v0 is pinned
    Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(Snapshots.readTagged(spark, t, "pinned").count() == 10) // survives
    assert(Snapshots.read(spark, t).count() == 5)
    assert(Snapshots.versions(spark, t) == Seq(0, 2)) // v1 expired, v0 pinned
    intercept[Exception] { Snapshots.read(spark, t, version = 1) }
    // keepFrom overload: same pin semantics below the watermark
    val t2 = freshTable("tagvac2")
    Snapshots.commit(df(1 to 4), t2, append = false)
    Snapshots.tag(spark, t2, "rel")
    Snapshots.commit(df(5 to 6), t2, append = false)
    Snapshots.commit(df(7 to 9), t2, append = false)
    Snapshots.vacuum(spark, t2, keepFrom = 2, orphanGraceMs = 0L)
    assert(Snapshots.readTagged(spark, t2, "rel").count() == 4)
    assert(Snapshots.versions(spark, t2) == Seq(0, 2))
  }

  test("vacuum removes dead batches and orphans, keeps retained reads exact, kills expired travel") {
    val t = freshTable("vacuum")
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.commit(df(1 to 10), t, append = false)   // v0: batch A
    Snapshots.commit(df(11 to 15), t, append = true)   // v1: batch B (refs A,B)
    Snapshots.commit(df(100 to 104), t, append = false) // v2: batch C only
    // orphan from an "aborted commit": no manifest names it
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t/data/batch-9-orphan"))
    val before = Snapshots.read(spark, t).collect().map(_.getLong(0)).sorted
    // fresh orphan + default grace: the orphan is spared (in-flight
    // writer contract), manifest-referenced dead batches go immediately
    val (removed0, live0) = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(removed0 == 2 && live0 == 1) // A, B gone; orphan spared; C live
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/data/batch-9-orphan")))
    // expired grace: the orphan is reclaimed
    val (removed, live) =
      Snapshots.vacuum(spark, t, keepVersions = 1, orphanGraceMs = -1000)
    assert(removed == 1 && live == 1) // orphan gone; C live
    // retained read reproduces exactly from surviving files
    assert(Snapshots.read(spark, t).collect().map(_.getLong(0)).sorted
      .sameElements(before))
    // expired manifests are gone: history starts at the horizon and
    // time travel beyond it fails loudly instead of reading dead files
    assert(Snapshots.versions(spark, t) == Seq(2))
    intercept[Exception] { Snapshots.read(spark, t, 0).collect() }
    // dead dirs are physically gone
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/data")).length == 1)
    // idempotent replay: nothing left to remove
    assert(Snapshots.vacuum(spark, t, keepVersions = 1) == ((0, 1)))
  }

  test("a shallow clone's vacuum never deletes parent-owned files") {
    val src = freshTable("vacsrc")
    val dst = freshTable("vacdst")
    Snapshots.commit(df(1 to 10), src, append = false)
    Snapshots.cloneTable(spark, src, dst)
    // clone-local commit so the clone has a dead local batch after replace
    Snapshots.commit(df(11 to 12), dst, append = true)  // v1: parent A + local D
    Snapshots.commit(df(20 to 22), dst, append = false) // v2: local E only
    val (removed, live) = Snapshots.vacuum(spark, dst, keepVersions = 1)
    assert(removed == 1 && live == 1) // only the clone-local dead batch D
    // the parent is untouched and fully readable
    assert(Snapshots.read(spark, src).count() == 10)
    assert(Snapshots.read(spark, dst).count() == 3)
  }

  test("restore rewinds state as a new commit; history intact; deletes re-apply") {
    import spark.implicits._
    val t = freshTable("restore")
    Snapshots.commit(df(1 to 10), t, append = false)           // v0
    Snapshots.deleteRows(Seq(3L, 4L).toDF("id"), t, "id")      // v1: 1..10 minus {3,4}
    Snapshots.commit(df(100 to 102), t, append = false)        // v2: the "bad replace"
    assert(Snapshots.restore(spark, t, 1) == 3)
    // restored state == v1 exactly, INCLUDING the pending delete line
    assert(Snapshots.read(spark, t).select("id").as[Long].collect().toSet
      == ((1L to 10L).toSet -- Set(3L, 4L)))
    // history intact: the replaced-away v2 still time-travels
    assert(Snapshots.read(spark, t, 2).select("id").as[Long].collect().toSet
      == (100L to 102L).toSet)
    // life goes on from the restored state
    Snapshots.commit(df(50 to 51), t, append = true)           // v4
    assert(Snapshots.read(spark, t).count() == 10)             // 8 + 2
    // restoring to the current latest is a no-op (no empty commit)
    assert(Snapshots.restore(spark, t, 4) == 4)
    assert(Snapshots.versions(spark, t) == Seq(0, 1, 2, 3, 4))
    // diff across the restore shows exactly the rewound rows
    val d = Snapshots.diff(spark, t, 2, 3).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSet
    assert(d == ((1L to 10L).toSet -- Set(3L, 4L)).map(("insert", _)) ++
      (100L to 102L).map(("delete", _)))
  }

  test("restore carries the txn ledger from the latest, not the target") {
    import spark.implicits._
    val t = freshTable("restore_txn")
    Snapshots.commit(df(1 to 5), t, append = false)                    // v0 (no txn)
    assert(Snapshots.commitWithTxn(df(6 to 8), t, "s1", 7L).contains(1))
    Snapshots.restore(spark, t, 0)                                     // v2
    // the ledger did NOT rewind: batch 7 is still covered after restore
    assert(Snapshots.lastTxn(spark, t, "s1").contains(7L))
    assert(Snapshots.commitWithTxn(df(9 to 9), t, "s1", 7L).isEmpty)
    // data DID rewind
    assert(Snapshots.read(spark, t).select("id").as[Long].collect().toSet
      == (1L to 5L).toSet)
  }

  test("deleteRows racing a restore aborts loudly like a replace") {
    import spark.implicits._
    val t = freshTable("race_del_restore")
    Snapshots.commit(df(1 to 10), t, append = false)
    Snapshots.commit(df(100 to 105), t, append = true)
    val e = intercept[IllegalStateException] {
      Snapshots.deleteRows(Seq(100L).toDF("id"), t, "id",
        beforePublish = () => Snapshots.restore(spark, t, 0))
    }
    assert(e.getMessage.contains("replaced"), e.getMessage)
    // the restore's state is intact — no delete line landed
    assert(Snapshots.read(spark, t).select("id").as[Long].collect().toSet
      == (1L to 10L).toSet)
  }

  test("commitChecked gates on the constraint: clean commits land, dirty abort clean") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("checked")
    assert(Snapshots.commitChecked(df(1 to 10), t, append = false,
      constraint = col("id") > 0) == 0)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitChecked(df(5 to 15), t, append = true,
        constraint = col("id") <= 12)
    }
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    // nothing staged, nothing published
    assert(Snapshots.versions(spark, t) == Seq(0))
    assert(Snapshots.read(spark, t).count() == 10)
    val dataRoot = new java.io.File(s"$t/data")
    assert(dataRoot.listFiles().length == 1, "dirty commit left a staged dir")
  }

  test("timestamp travel resolves the latest version at or before the instant") {
    val t = freshTable("asof_ts")
    Snapshots.commit(df(1 to 10), t, append = false)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Snapshots.commit(df(11 to 15), t, append = true)
    assert(Snapshots.versionAsOf(spark, t, between) == 0)
    assert(Snapshots.readAsOf(spark, t, between).count() == 10)
    assert(Snapshots.versionAsOf(spark, t, System.currentTimeMillis()) == 1)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, t, between - 3600L * 1000)
    }
  }

  test("restore rejects unknown versions") {
    val t = freshTable("restore_bad")
    Snapshots.commit(df(1 to 3), t, append = false)
    intercept[IllegalArgumentException] { Snapshots.restore(spark, t, 9) }
    assert(Snapshots.versions(spark, t) == Seq(0))
  }

  test("maintenance keeps manifest blooms; disjoint batches get no mask (ADVICE r9)") {
    val t = freshTable("bloomkeep")
    val sc = Some("id")
    Snapshots.commit(df(1 to 100), t, append = false, statsCol = sc,
      bloomFpp = 0.01)                                                 // v0: [1,100]
    Snapshots.commit(df(101 to 200), t, append = true, statsCol = sc,
      bloomFpp = 0.01)                                                 // v1: [101,200]
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def lines(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(f"$t/_versions/v$v%05d.json"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    // a batch line carries a bloom iff it has the 5th (base64) field
    def bloomBatches(v: Int): Seq[String] =
      lines(v).filter(l => l.startsWith("data/") && l.split('\t').length == 5)
    assert(bloomBatches(1).size == 2)
    // straddling overwrite [150,220]: batch-1 is masked, batch-0's
    // envelope [1,100] provably misses the range → NO mask line, and
    // the replacement batch regrows a bloom (inferred from survivors)
    import org.apache.spark.sql.functions.col
    val v2 = Snapshots.overwriteRange(df(150 to 200), t, "id", 150L, 220L,
      statsCol = sc)
    val masked = lines(v2).filter(_.startsWith("M\t"))
    assert(masked.size == 1 && !masked.head.contains("batch-0-"),
      s"expected one mask on batch-1 only, got: $masked")
    assert(bloomBatches(v2).size == 3, lines(v2).mkString("|"))
    // point reads stay exact across the overwrite
    assert(Snapshots.readPoint(spark, t, "id", Seq(50L, 150L)).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(50L, 150L))
    // compactDeletes' folded batch keeps a bloom
    import spark.implicits._
    Snapshots.deleteRows(Seq(160L).toDF("id"), t, "id")
    val v4 = Snapshots.compactDeletes(spark, t, statsCol = sc)
    assert(bloomBatches(v4).nonEmpty &&
      bloomBatches(v4).size == lines(v4).count(_.startsWith("data/")))
    // optimize's single folded batch keeps a bloom too
    val v5 = Snapshots.optimize(spark, t, statsCol = sc)
    val batchLines = lines(v5).filter(_.startsWith("data/"))
    assert(batchLines.size == 1 && batchLines.head.split('\t').length == 5)
    assert(Snapshots.read(spark, t).filter(col("id") === 160L).count() == 0)
    // 1..100 + masked 101..149 + replacement 150..200, minus deleted 160
    assert(Snapshots.read(spark, t).count() == 199)
  }

  test("branch: isolated writes, fast-forward merge, non-FF refusal, vacuum-safe paths") {
    val t = freshTable("branch")
    Snapshots.commit(df(1 to 10), t, append = false)       // main v0
    Snapshots.createBranch(spark, t, "exp")
    val bd = Snapshots.branchDir(t, "exp")
    Snapshots.commit(df(11 to 15), bd, append = true)      // branch-local
    // isolation: main is untouched mid-flight
    assert(Snapshots.read(spark, t).count() == 10)
    assert(Snapshots.readBranch(spark, t, "exp").count() == 15)
    assert(Snapshots.branches(spark, t) == Seq("exp" -> 0))
    // fast-forward merge publishes the branch state as main's next version
    val v = Snapshots.mergeBranch(spark, t, "exp")
    assert(v == 1 && Snapshots.read(spark, t).count() == 15)
    assert(Snapshots.read(spark, t).agg(sum(col("id"))).head.getLong(0)
      == (1 to 15).sum.toLong)
    // vacuum safety: the merged manifest references main's own pre-fork
    // batch RELATIVELY (inside the reference set) and branch data
    // absolutely (clone-parent exempt) — vacuum must reclaim nothing
    val (removed, live) = Snapshots.vacuum(spark, t, keepVersions = 1)
    assert(removed == 0, s"vacuum after merge removed $removed live paths")
    assert(Snapshots.read(spark, t).count() == 15)
    // non-fast-forward: main advanced past a second branch's fork base
    Snapshots.createBranch(spark, t, "exp2")
    Snapshots.commit(df(100 to 101), t, append = true)     // main moves on
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, t, "exp2")
    }
    assert(e.getMessage.contains("non-fast-forward"), e.getMessage)
    // merged-branch protection (ADVICE r12): the branch's batches are
    // now load-bearing for MAIN's merged manifest — vacuuming the
    // BRANCH (whose reference set can't see main) must refuse rather
    // than silently break main's merged versions
    Snapshots.commit(df(16 to 18), bd, append = true) // branch moves on
    val ev = intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, bd, keepVersions = 1)
    }
    assert(ev.getMessage.contains("referenced by merged manifests"),
      ev.getMessage)
    val evf = intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, bd, keepFrom = Snapshots.latestVersion(spark, bd))
    }
    assert(evf.getMessage.contains("referenced by merged manifests"),
      evf.getMessage)
    assert(Snapshots.read(spark, t).count() == 17) // main intact (15 + 2)
    // a branch main never merged vacuums freely
    val t3 = freshTable("branchvac")
    Snapshots.commit(df(1 to 5), t3, append = false)
    Snapshots.createBranch(spark, t3, "scratch")
    val bd3 = Snapshots.branchDir(t3, "scratch")
    Snapshots.commit(df(6 to 7), bd3, append = true)
    Snapshots.commit(df(8 to 9), bd3, append = true)
    Snapshots.vacuum(spark, bd3, keepVersions = 1) // no refusal
    assert(Snapshots.readBranch(spark, t3, "scratch").count() == 9)
    // branch deletes of parent-inherited rows survive the merge
    val t2 = freshTable("branchdel")
    Snapshots.commit(df(1 to 10), t2, append = false)
    Snapshots.createBranch(spark, t2, "del")
    import spark.implicits._
    Snapshots.deleteRows(Seq(3L, 4L).toDF("id"),
      Snapshots.branchDir(t2, "del"), "id")
    Snapshots.mergeBranch(spark, t2, "del")
    assert(Snapshots.read(spark, t2).collect().map(_.getLong(0)).sorted.toSeq
      == ((1 to 10).map(_.toLong).filterNot(Set(3L, 4L))))
  }

  test("renameColumn: metadata-only, old+new batches unify, time travel keeps the old name") {
    import spark.implicits._
    val t = freshTable("rename")
    Snapshots.commit(df(1 to 10), t, append = false) // v0: (id, v)
    assert(Snapshots.renameColumn(spark, t, "id", "row_id") == 1)
    // latest speaks the new name, values intact
    val r = Snapshots.read(spark, t)
    assert(r.columns.toSeq == Seq("row_id", "v"))
    assert(r.agg(sum(col("row_id"))).head.getLong(0) == 55L)
    // appends write the new name; mixed-era batches unify under it
    Snapshots.commit(
      (11 to 12).map(i => (i.toLong, s"row$i")).toDF("row_id", "v"),
      t, append = true)
    assert(Snapshots.read(spark, t).agg(sum(col("row_id"))).head.getLong(0) == 78L)
    // time travel BEFORE the rename still reads the physical name
    assert(Snapshots.read(spark, t, 0).columns.toSeq == Seq("id", "v"))
    // refusals: unknown source, occupied target, identity
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "row_id", "v"))
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, t, "v", "v"))
  }

  test("renameColumn remaps pending deletes, masks, and stats; maintenance folds keep working") {
    import spark.implicits._
    val t = freshTable("rename_interplay")
    def rows(r: Range) = r.map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
    Snapshots.commit(rows(1 to 10), t, append = false,
      statsCol = Some("id"))
    Snapshots.commit(rows(11 to 20), t, append = true,
      statsCol = Some("id"))
    // a pending delete keyed on the OLD name + a mask from replaceWhere
    Snapshots.deleteRows(Seq(3L).toDF("id"), t, "id")
    Snapshots.overwriteRange(rows(5 to 6), t, "id", 5L, 6L,
      statsCol = Some("id"))
    assert(Snapshots.renameColumn(spark, t, "id", "key") > 0)
    // the renamed read still applies the delete AND the mask
    val ids = Snapshots.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1 to 20).map(_.toLong).filterNot(_ == 3L), ids.toString)
    // pruned + point reads work against the REMAPPED stats envelopes
    assert(Snapshots.readPruned(spark, t, "key", 15L, 17L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(15L, 16L, 17L))
    assert(Snapshots.readPoint(spark, t, "key", Seq(7L))
      .head.getLong(0) == 7L)
    // compactDeletes folds under the new name and the delete stays folded
    Snapshots.compactDeletes(spark, t, statsCol = Some("key"))
    val after = Snapshots.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
    assert(after == ids, "fold must preserve the renamed state")
    // a second rename CHAINS through a-era batches
    Snapshots.renameColumn(spark, t, "key", "pk")
    assert(Snapshots.read(spark, t).columns.contains("pk"))
    assert(Snapshots.read(spark, t).agg(sum(col("pk"))).head.getLong(0)
      == after.sum)
  }

  test("renameColumn: a later evolved append reusing the old name survives the fold un-renamed") {
    import spark.implicits._
    val t = freshTable("rename_order")
    def rows(r: Range) = r.map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
    Snapshots.commit(rows(1 to 5), t, append = false, statsCol = Some("id"))
    Snapshots.renameColumn(spark, t, "id", "key")
    // evolved append AFTER the rename carrying a FRESH column that
    // reuses the rename's old name — legal (only `to` must be free)
    Snapshots.commit(Seq((6L, 66L)).toDF("key", "id"), t, append = true,
      statsCol = Some("key"))
    def idOf6() = Snapshots.read(spark, t, mergeSchema = true)
      .filter(col("key") === 6L).head.getAs[Long]("id")
    assert(idOf6() == 66L, "fresh 'id' column must read through un-renamed")
    // force a fold that rewrites only the OLD batch: the carried R line
    // must stay BEFORE the post-rename batch (hoisting it to the end
    // would rename the fresh 'id' and duplicate 'key' at read time)
    Snapshots.deleteRows(Seq(1L).toDF("key"), t, "key")
    Snapshots.compactDeletes(spark, t, statsCol = Some("key"))
    val merged = Snapshots.read(spark, t, mergeSchema = true)
    assert(merged.columns.count(_ == "key") == 1, merged.columns.mkString(","))
    assert(merged.columns.contains("id"))
    assert(idOf6() == 66L, "fold must not spuriously rename the fresh column")
    assert(merged.filter(col("key") <= 5L).count() == 4L, "delete folded")
  }

  test("deleteRows racing a rename aborts loudly (ADVICE r13) — no stale-name D line") {
    import spark.implicits._
    val t = freshTable("race_del_rename")
    Snapshots.commit(df(1 to 10), t, append = false)
    val e = intercept[IllegalStateException] {
      Snapshots.deleteRows(Seq(5L).toDF("id"), t, "id",
        beforePublish = () =>
          { Snapshots.renameColumn(spark, t, "id", "row_id"); () })
    }
    assert(e.getMessage.contains("renamed"), e.getMessage)
    // the rename's state is intact and every read still works — the
    // pre-fix behavior published `D <file> id` AFTER the R line, which
    // made applyDeletes anti-join on a column the schema no longer had
    val r = Snapshots.read(spark, t)
    assert(r.columns.contains("row_id") && !r.columns.contains("id"))
    assert(r.select("row_id").as[Long].collect().toSet == (1L to 10L).toSet)
    val delRoot = new java.io.File(s"$t/deletes")
    assert(!delRoot.exists() || delRoot.listFiles().isEmpty,
      "aborted delete's staged key file must be reclaimed")
  }

  test("append racing a rename aborts and reclaims the staged batch (ADVICE r13)") {
    import spark.implicits._
    val t = freshTable("race_append_rename")
    Snapshots.commit(df(1 to 10), t, append = false)
    val e = intercept[IllegalStateException] {
      Snapshots.commit(df(11 to 15), t, append = true,
        beforePublish = () =>
          { Snapshots.renameColumn(spark, t, "id", "row_id"); () })
    }
    assert(e.getMessage.contains("renamed"), e.getMessage)
    // pre-fix the staged pre-rename batch line rebased past the R line,
    // silently forking the schema (readMasked applies no rename to batch
    // lines after the R line). Post-fix: table intact under the new name
    val r = Snapshots.read(spark, t, mergeSchema = true)
    assert(r.columns.contains("row_id") && !r.columns.contains("id"))
    assert(r.count() == 10L, "aborted append must not be visible")
    // staged batch dir reclaimed — only the one referenced batch remains
    val dataRoot = new java.io.File(s"$t/data")
    assert(dataRoot.listFiles().count(_.isDirectory) == 1,
      dataRoot.listFiles().map(_.getName).mkString(","))
    // and the RERUN (re-staged from the renamed view) lands cleanly
    val again = (11 to 15).map(i => (i.toLong, s"row$i")).toDF("row_id", "v")
    Snapshots.commit(again, t, append = true)
    assert(Snapshots.read(spark, t).count() == 15L)
  }

  test("dropColumn: metadata-only, fresh reuse after drop, time travel, refusals") {
    import spark.implicits._
    val t = freshTable("drop_col")
    def rows(r: Range) = r.map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
    Snapshots.commit(rows(1 to 5), t, append = false)
    val p = new org.apache.hadoop.fs.Path(t)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$t/data"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    assert(Snapshots.dropColumn(spark, t, "x") == 1)
    // metadata-only: not a data byte moved
    val after = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$t/data"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    assert(before == after)
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id"))
    // time travel before the drop reads the values back
    assert(Snapshots.read(spark, t, 0).filter(col("id") === 3L)
      .head.getAs[Long]("x") == 30L)
    // append reusing the name: FRESH column; old rows read null
    Snapshots.commit(Seq((6L, 600L)).toDF("id", "x"), t, append = true)
    val m = Snapshots.read(spark, t, mergeSchema = true)
    assert(m.filter(col("id") === 3L).head.isNullAt(m.columns.indexOf("x")),
      "pre-drop physical values must not resurrect under the reused name")
    assert(m.filter(col("id") === 6L).head.getAs[Long]("x") == 600L)
    // rename may also reuse the dropped name (drop then a→x composes)
    Snapshots.renameColumn(spark, t, "x", "y")
    Snapshots.renameColumn(spark, t, "id", "x")
    val m2 = Snapshots.read(spark, t, mergeSchema = true)
    assert(m2.columns.sorted.toSeq == Seq("x", "y"))
    assert(m2.filter(col("x") === 3L).head.isNullAt(m2.columns.indexOf("y")))
    // refusal: pending delete keys on the column
    val t2 = freshTable("drop_col_del")
    Snapshots.commit(rows(1 to 5), t2, append = false)
    Snapshots.deleteRows(Seq(10L).toDF("x"), t2, "x")
    val e1 = intercept[IllegalStateException](Snapshots.dropColumn(spark, t2, "x"))
    assert(e1.getMessage.contains("compactDeletes"), e1.getMessage)
    // refusal: pending masks on the column
    val t3 = freshTable("drop_col_mask")
    Snapshots.commit(rows(1 to 5), t3, append = false)
    Snapshots.commit(rows(6 to 8), t3, append = true)
    Snapshots.overwriteRange(Seq((99L, 45L)).toDF("id", "x"), t3, "x", 40L, 50L)
    val e2 = intercept[IllegalStateException](Snapshots.dropColumn(spark, t3, "x"))
    assert(e2.getMessage.contains("optimize"), e2.getMessage)
    // last-column refusal
    val e3 = intercept[IllegalArgumentException](
      Snapshots.dropColumn(spark, freshAndCommit(), "id"))
    assert(e3.getMessage.contains("only column"), e3.getMessage)
  }

  private def freshAndCommit(): String = {
    import spark.implicits._
    val t = freshTable("drop_single")
    Snapshots.commit(Seq(1L, 2L).toDF("id"), t, append = false)
    t
  }

  test("dropColumn: compactDeletes carries the X line before the folded batch") {
    import spark.implicits._
    val t = freshTable("drop_compact")
    def rows(r: Range) = r.map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
    Snapshots.commit(rows(1 to 5), t, append = false)
    Snapshots.dropColumn(spark, t, "x")
    Snapshots.commit(Seq((6L, 66L)).toDF("id", "x"), t, append = true)
    // delete on the surviving key column, then fold
    Snapshots.deleteRows(Seq(2L).toDF("id"), t, "id")
    Snapshots.compactDeletes(spark, t)
    val m = Snapshots.read(spark, t, mergeSchema = true)
    assert(m.select("id").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L, 6L))
    // the fresh column survives the fold un-dropped; old rows stay null
    assert(m.filter(col("id") === 6L).head.getAs[Long]("x") == 66L)
    assert(m.filter(col("id") === 3L).head.isNullAt(m.columns.indexOf("x")))
  }

  test("append racing a drop aborts (pre-drop schema must not land after the X line)") {
    import spark.implicits._
    val t = freshTable("race_append_drop")
    def rows(r: Range) = r.map(i => (i.toLong, i.toLong * 10)).toDF("id", "x")
    Snapshots.commit(rows(1 to 5), t, append = false)
    val e = intercept[IllegalStateException] {
      Snapshots.commit(rows(6 to 8), t, append = true,
        beforePublish = () => { Snapshots.dropColumn(spark, t, "x"); () })
    }
    assert(e.getMessage.contains("renamed/dropped"), e.getMessage)
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id"))
    assert(Snapshots.read(spark, t).count() == 5L)
  }

  test("replace racing a rename still rebases (its frame IS the new schema)") {
    import spark.implicits._
    val t = freshTable("race_replace_rename")
    Snapshots.commit(df(1 to 10), t, append = false)
    val v = Snapshots.commit(df(100 to 102), t, append = false,
      beforePublish = () =>
        { Snapshots.renameColumn(spark, t, "id", "row_id"); () })
    assert(v == 2, "replace rebases past the rename without aborting")
    // replace drops R lines; its own columns define the state
    val r = Snapshots.read(spark, t)
    assert(r.columns.contains("id") && !r.columns.contains("row_id"))
    assert(r.select("id").as[Long].collect().toSet == (100L to 102L).toSet)
  }

  test("manifest format: every mutation kind writes the pinned bytes") {
    import spark.implicits._
    val t = freshTable("pin")
    val root = t.stripSuffix("/pin")
    def rows(r: Range) = r.map(i => (i.toLong, s"row$i", i * 2L)).toDF("id", "v", "x")
    Snapshots.commit(rows(1 to 10), t, append = false, statsCol = Some("id"),
      bloomFpp = 0.05)                                                    // v0
    Snapshots.commit(rows(11 to 15), t, append = true)                    // v1
    Snapshots.commitWithTxn(rows(16 to 20), t, "s1", 0L, Some("id"))      // v2
    assert(Snapshots.commitWithTxn(rows(16 to 20), t, "s1", 0L).isEmpty)  // covered
    Snapshots.deleteRows(Seq(3L, 12L).toDF("id"), t, "id")                // v3
    Snapshots.overwriteRange(rows(5 to 7), t, "id", 5L, 7L,
      statsCol = Some("id"))                                              // v4
    Snapshots.renameColumn(spark, t, "v", "label")                        // v5
    Snapshots.dropColumn(spark, t, "x")                                   // v6
    Snapshots.compactDeletes(spark, t, statsCol = Some("id"))             // v7
    Snapshots.optimize(spark, t, statsCol = Some("id"))                   // v8
    Snapshots.restore(spark, t, 4)                                        // v9
    Snapshots.commitReplaceWithTxn(rows(30 to 32), t, "s2", 7L)           // v10
    Snapshots.tag(spark, t, "pin")
    val clone = freshTable("pin_clone")
    Snapshots.cloneTable(spark, t, clone, version = 4)                    // clone v0
    Snapshots.createBranch(spark, t, "b")                                 // branch v0
    val bd = Snapshots.branchDir(t, "b")
    Snapshots.commit(rows(40 to 41), bd, append = true)                   // branch v1
    Snapshots.mergeBranch(spark, t, "b")                                  // v11
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(name: String, dir: String): Seq[String] =
      Snapshots.versions(spark, dir).flatMap { v =>
        val in = fs.open(new org.apache.hadoop.fs.Path(f"$dir/_versions/v$v%05d.json"))
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        assert(body.endsWith("\n"), s"$name v$v: manifest must end with a newline")
        s"== $name v$v" +: body.linesIterator.toSeq
      }
    val actual = (listing("main", t) ++ listing("clone", clone) ++
        listing("branch", bd) ++
        Snapshots.tags(spark, t).map { case (n, v) => s"== tag $n v$v" })
      .map(_.replace(root, "<root>")
        .replaceAll("(batch|del)-([0-9]+)-[0-9a-f]{8}", "$1-$2-<nonce>")
        .replace("\t", "\\t"))
      .mkString("\n")
    val expected =
      """|== main v0
      |K\treplace
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |== main v1
      |K\tappend
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |data/batch-1-<nonce>
      |== main v2
      |K\tappend
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |data/batch-1-<nonce>
      |data/batch-2-<nonce>\tid\t16\t20
      |T\ts1\t0
      |== main v3
      |K\tdelete
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |data/batch-1-<nonce>
      |data/batch-2-<nonce>\tid\t16\t20
      |T\ts1\t0
      |D\tdeletes/del-3-<nonce>\tid
      |== main v4
      |K\treplace-where
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |M\tdata/batch-0-<nonce>\tid\t5\t7
      |data/batch-1-<nonce>
      |M\tdata/batch-1-<nonce>\tid\t5\t7
      |data/batch-2-<nonce>\tid\t16\t20
      |T\ts1\t0
      |D\tdeletes/del-3-<nonce>\tid
      |data/batch-4-<nonce>\tid\t5\t7\tAAAAAgAAAAUAAAAAAAAAAUkmMAEAIIAA
      |== main v5
      |K\trename
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |M\tdata/batch-0-<nonce>\tid\t5\t7
      |data/batch-1-<nonce>
      |M\tdata/batch-1-<nonce>\tid\t5\t7
      |data/batch-2-<nonce>\tid\t16\t20
      |T\ts1\t0
      |D\tdeletes/del-3-<nonce>\tid
      |data/batch-4-<nonce>\tid\t5\t7\tAAAAAgAAAAUAAAAAAAAAAUkmMAEAIIAA
      |R\tv\tlabel
      |== main v6
      |K\tdrop
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |M\tdata/batch-0-<nonce>\tid\t5\t7
      |data/batch-1-<nonce>
      |M\tdata/batch-1-<nonce>\tid\t5\t7
      |data/batch-2-<nonce>\tid\t16\t20
      |T\ts1\t0
      |D\tdeletes/del-3-<nonce>\tid
      |data/batch-4-<nonce>\tid\t5\t7\tAAAAAgAAAAUAAAAAAAAAAUkmMAEAIIAA
      |R\tv\tlabel
      |X\tx
      |== main v7
      |K\tcompact
      |data/batch-2-<nonce>\tid\t16\t20
      |R\tv\tlabel
      |X\tx
      |data/batch-7-<nonce>\tid\t1\t15\tAAAAAgAAAAUAAAAAAAAAAplnENcipeQk0eUwogZMlEQ=
      |T\ts1\t0
      |== main v8
      |K\toptimize
      |data/batch-8-<nonce>\tid\t1\t20\tAAAAAgAAAAUAAAAAAAAAA4HmOMECJbAk0SdyJjxM5AXbVRCTAoQ0RQ==
      |T\ts1\t0
      |== main v9
      |K\trestore
      |data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |M\tdata/batch-0-<nonce>\tid\t5\t7
      |data/batch-1-<nonce>
      |M\tdata/batch-1-<nonce>\tid\t5\t7
      |data/batch-2-<nonce>\tid\t16\t20
      |D\tdeletes/del-3-<nonce>\tid
      |data/batch-4-<nonce>\tid\t5\t7\tAAAAAgAAAAUAAAAAAAAAAUkmMAEAIIAA
      |T\ts1\t0
      |== main v10
      |K\treplace
      |T\ts1\t0
      |data/batch-10-<nonce>
      |T\ts2\t7
      |== main v11
      |K\tmerge
      |data/batch-10-<nonce>
      |<root>/pin/branches/b/data/batch-1-<nonce>
      |== clone v0
      |K\tclone
      |<root>/pin/data/batch-0-<nonce>\tid\t1\t10\tAAAAAgAAAAQAAAAAAAAAAclnEJMGbIQA
      |M\t<root>/pin/data/batch-0-<nonce>\tid\t5\t7
      |<root>/pin/data/batch-1-<nonce>
      |M\t<root>/pin/data/batch-1-<nonce>\tid\t5\t7
      |<root>/pin/data/batch-2-<nonce>\tid\t16\t20
      |D\t<root>/pin/deletes/del-3-<nonce>\tid
      |<root>/pin/data/batch-4-<nonce>\tid\t5\t7\tAAAAAgAAAAUAAAAAAAAAAUkmMAEAIIAA
      |== branch v0
      |K\tclone
      |<root>/pin/data/batch-10-<nonce>
      |== branch v1
      |K\tappend
      |<root>/pin/data/batch-10-<nonce>
      |data/batch-1-<nonce>
      |== tag pin v10""".stripMargin
    if (actual != expected) println(s"PIN-ACTUAL-BEGIN\n$actual\nPIN-ACTUAL-END")
    assert(actual == expected)
  }
}
