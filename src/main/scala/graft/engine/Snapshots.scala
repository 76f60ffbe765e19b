package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned snapshot store with time travel — the minimal table-format
  * core under Delta/Iceberg, over plain parquet:
  *
  *  - data files are IMMUTABLE: every commit writes a fresh
  *    writer-unique `data/batch-<v>-<nonce>/` directory and never
  *    touches earlier ones;
  *  - a version is a MANIFEST (`_versions/vNNNNN.json`): the list of
  *    data directories visible at that version. Readers list manifests,
  *    never data directories, so a half-written batch is invisible
  *    until its manifest lands;
  *  - manifests are published atomically with create-if-absent (the
  *    optimistic commit protocol Delta uses on its log);
  *  - time travel = read an old manifest. Append vs replace is just
  *    whether the new manifest carries the previous file list;
  *  - row-level deletes are manifest entries too ([[deleteRows]]): a
  *    `D <file> <keyCol>` line points at an immutable key file that
  *    readers anti-join at scan time (Iceberg's equality-delete shape),
  *    so a 100 TB delete writes KBs, not the table. [[compactDeletes]]
  *    folds them into rewritten data when the read-side tax is no longer
  *    worth it, and [[vacuum]] reclaims folded delete files;
  *  - stream transactions are manifest entries too ([[commitWithTxn]]):
  *    a `T <appId> <batchId>` line records how far a named stream has
  *    ingested, in the SAME atomic publish as its data — so a replayed
  *    micro-batch (foreachBatch is at-least-once) sees its id covered
  *    and skips, making streaming ingest exactly-once (Delta's
  *    txn-appId pattern).
  *
  * The reference engine has no write path at all; this supplies the
  * missing half of the warehouse story next to MERGE (q55) and
  * compaction (fmt_compaction): q55 computes a new table STATE, this
  * stores states so yesterday's reads still reproduce. All file I/O
  * goes through the Hadoop FileSystem API (object stores work, not
  * just local disk).
  *
  * Scale: a manifest holds directory names, not per-row data — KBs at
  * any table size. Readers cost one small-file read + one parquet scan
  * of exactly the listed directories.
  *
  * CONCURRENCY: commits are optimistic, Delta-style. Every writer
  * stages its data under a writer-unique `data/batch-<v>-<nonce>`
  * directory (no two writers ever touch the same path), then tries to
  * publish the next manifest version with an ATOMIC create-if-absent;
  * the loser of a race re-reads the new latest version, re-carries its
  * file list (for appends), bumps, and retries — so N concurrent
  * committers serialize into N consecutive versions, none lost. On the
  * local filesystem the create-if-absent is a hard-link (POSIX link(2)
  * fails with EEXIST — rename is NOT safe there: File.renameTo silently
  * overwrites); on HDFS-like stores it is rename-without-overwrite.
  * Object stores lacking atomic create-if-absent get best-effort
  * exists-check semantics (the Delta-on-S3 caveat; they need an
  * external commit coordinator for strict safety).
  *
  * Every mutation goes through ONE commit path (Iceberg's single
  * producer): [[stage]] writes the immutable data, [[publish]] rebases,
  * guards and publishes the next manifest. Operations differ only in
  * the entries they contribute and the [[Guard]] they run.
  */
object Snapshots {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(s"$dir/_versions")

  /** Resolve a manifest entry path against the table dir. Entries are
    * normally table-relative (`data/batch-...`); a SHALLOW CLONE's
    * manifest carries the parent table's batches as ABSOLUTE paths
    * ([[cloneTable]]), which pass through untouched. Write paths are
    * always local-relative and never routed here.
    */
  private def resolve(dir: String, path: String): String =
    if (path.startsWith("/") || path.contains("://")) path else s"$dir/$path"

  private def manifestPath(dir: String, v: Int) =
    new Path(manifestDir(dir), f"v$v%05d.json")

  /** Versions present, ascending; empty if the table doesn't exist. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no snapshot table at $dir")
    vs.last
  }

  /** Commit `df` as the next version. `append = true` keeps the previous
    * version's data directories visible; `false` makes the new batch the
    * whole table (the MERGE/compaction rewrite shape). Returns the new
    * version number.
    *
    * `statsCol`: optionally record the batch's min/max of one LONG
    * column in the manifest line — the Iceberg-style manifest statistic
    * that lets [[readPruned]] skip whole batch directories without
    * opening a single parquet footer at read time. Computed by
    * re-reading the WRITTEN files (one single-column scan at commit
    * time — the once-per-commit price of an envelope that reflects
    * exactly what landed).
    */
  def commit(df: DataFrame, dir: String, append: Boolean,
      statsCol: Option[String] = None, bloomFpp: Double = 0.0,
      beforePublish: () => Unit = () => ()): Int = {
    require(bloomFpp == 0.0 || statsCol.nonEmpty,
      "bloomFpp needs statsCol: the manifest bloom rides the stats line")
    write(df, dir, "commit", append, statsCol, bloomFpp, beforePublish).get
  }

  /** Commit with a CHECK constraint (Delta table constraints / DLT
    * expectations): the ingest-time data-quality gate. The frame is
    * probed for violating rows BEFORE anything is staged — `limit(1)`
    * short-circuits, so a clean commit pays one early-exiting scan and a
    * dirty one aborts with nothing on disk and the version history
    * untouched. Assumes `df` is deterministic between the probe and the
    * write (the same assumption [[commit]]'s stats re-scan makes in the
    * other direction); a nondeterministic source should be staged to
    * parquet first and committed from there.
    */
  def commitChecked(df: DataFrame, dir: String, append: Boolean,
      constraint: org.apache.spark.sql.Column,
      statsCol: Option[String] = None): Int = {
    val bad = df.filter(org.apache.spark.sql.functions.not(constraint))
      .limit(1).count()
    require(bad == 0L,
      s"CHECK constraint violated: [$constraint] — commit aborted, nothing staged")
    commit(df, dir, append, statsCol)
  }

  /** Latest version whose manifest was PUBLISHED at or before `tsMillis`
    * (Delta's `TIMESTAMP AS OF`): commit wall-clock is the manifest
    * file's modification time — the same source Delta reads, with the
    * same caveat that writer clock skew makes sub-second ordering
    * advisory. Fails if the table's first commit postdates the
    * timestamp.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val f = fs(spark, dir)
    val hits = versions(spark, dir).filter(v =>
      f.getFileStatus(manifestPath(dir, v)).getModificationTime <= tsMillis)
    require(hits.nonEmpty,
      s"no version of $dir existed at $tsMillis (first commit is later)")
    hits.last
  }

  /** Read the table as of a wall-clock instant ([[versionAsOf]]). */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long,
      mergeSchema: Boolean = false): DataFrame =
    read(spark, dir, versionAsOf(spark, dir, tsMillis), mergeSchema)

  /** Highest micro-batch id the latest version records for `appId`, or
    * None if the stream never committed here — the idempotence ledger of
    * [[commitWithTxn]] (Delta's txn-appId pattern: the manifest itself
    * remembers how far each named stream got, so the check and the
    * commit are the same atomic unit).
    */
  def lastTxn(spark: SparkSession, dir: String, appId: String): Option[Long] =
    versions(spark, dir).lastOption.flatMap(v => txnOf(entriesAt(spark, dir, v), appId))

  private def txnOf(entries: Seq[ManifestEntry], appId: String): Option[Long] =
    entries.collectFirst { case TxnEntry(a, b) if a == appId => b }

  /** Exactly-once commit for streaming ingest: append `df` as the next
    * version AND record `T <appId> <batchId>` in the same atomic
    * manifest publish. A REPLAYED micro-batch (foreachBatch is
    * at-least-once: a crash between the sink call and the checkpoint's
    * commit log re-runs the batch with the same id) finds its id already
    * covered and returns None without touching the table — the check
    * rides the same optimistic-commit loop as the data, re-evaluated on
    * every rebase, so even a zombie writer racing its own restart cannot
    * double-commit. One T line per appId (replaced in place, the
    * manifest never grows with stream length); independent streams
    * coexist under distinct appIds. Replace commits and
    * [[compactDeletes]] carry T lines forward — a table rewrite must not
    * reopen the door to replays.
    */
  def commitWithTxn(df: DataFrame, dir: String, appId: String, batchId: Long,
      statsCol: Option[String] = None): Option[Int] =
    write(df, dir, "commitWithTxn", append = true, statsCol,
      txn = Some(validTxn(appId, batchId)))

  /** Exactly-once REPLACE for streaming maintenance: rewrite the table
    * (same semantics as `commit(append = false)` — prior batch lines
    * drop, stream-txn marks carry forward, R/X lines reset) AND record
    * `T <appId> <batchId>` in the same atomic manifest publish. This is
    * the device that lets a maintenance REWRITE (codebook retrain +
    * re-encode) ride the same ledger as the appends that triggered it:
    * a replayed micro-batch finds its id covered and returns None
    * without staging anything. A maintenance trigger needs this — not
    * just re-evaluation — when the condition that fired it persists
    * structurally (a drifted batch's rows encode with their own error
    * profile under ANY codebook, so the drift metric alone would
    * re-fire forever; only the ledger can say "already handled").
    */
  def commitReplaceWithTxn(df: DataFrame, dir: String, appId: String,
      batchId: Long): Option[Int] =
    write(df, dir, "commitReplaceWithTxn", append = false, statsCol = None,
      txn = Some(validTxn(appId, batchId)))

  private def validTxn(appId: String, batchId: Long): (String, Long) = {
    require(appId.nonEmpty && !appId.exists(_.isWhitespace),
      s"appId must be non-empty with no whitespace: '$appId'")
    appId -> batchId
  }

  /** The three data commits ([[commit]], [[commitWithTxn]],
    * [[commitReplaceWithTxn]]): stage `df` as one batch and publish it.
    * An append carries the rebased-onto version's full entry list —
    * including its delete lines, so pending row-level deletes survive an
    * append; a replace starts from scratch (deletes folded into the new
    * state by whatever computed it) EXCEPT the stream-txn lines, which
    * must outlive any rewrite — dropping them would let a replayed
    * micro-batch double-commit after a compaction/replace. An append
    * aborts across a rename or drop ([[SchemaChange]]); a replace is
    * exempt — it drops R/X lines and its frame IS the new schema.
    * None only when `txn` is already covered.
    */
  private def write(df: DataFrame, dir: String, op: String, append: Boolean,
      statsCol: Option[String], bloomFpp: Double = 0.0,
      beforePublish: () => Unit = () => (),
      txn: Option[(String, Long)] = None): Option[Int] = {
    val spark = df.sparkSession
    // fail fast, before any data is written: the manifest envelope
    // format carries LONG min/max
    statsCol.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"statsCol '$c' must be LONG, got ${df.schema(c).dataType.simpleString}")
    }
    val base = versions(spark, dir).lastOption.getOrElse(-1)
    // lazy: publish forces it only once the txn fast path has passed, so
    // a covered replay stages nothing at all
    lazy val batch = stage(df, dir, base + 1, statsCol, bloomFpp)
    try Some(publish(spark, dir, op, if (append) "append" else "replace", base,
      if (append) SchemaChange else NoGuard, txn, beforePublish,
      staged = Some(batch)) { prev =>
      (if (append) prev else prev.collect { case t: TxnEntry => t }) :+ batch
    })
    catch { case _: AlreadyCovered => None }
  }

  /** Spark's own `BloomFilter.create(expectedNumItems)` default fpp —
    * used when a maintenance pass must regrow a bloom whose original
    * fpp the manifest doesn't record.
    */
  private val DefaultBloomFpp = 0.03

  /** Maintenance/overwrite passes must PRESERVE manifest blooms: a
    * rewritten or replacement batch on a bloom-carrying table that
    * publishes a bare stats line silently degrades readPoint skipping
    * from that version on (ADVICE r9). When the caller didn't request a
    * bloom but any surviving entry on the same stats column carries
    * one, regrow at [[DefaultBloomFpp]].
    */
  private def bloomFppFor(entries: Seq[ManifestEntry],
      statsCol: Option[String], requested: Double): Double =
    if (requested > 0.0) requested
    else if (statsCol.exists(c => entries.exists {
      case BatchEntry(_, Some((bc, _, _)), Some(_)) => bc == c
      case _ => false
    })) DefaultBloomFpp
    else 0.0

  private def nonce(): String = java.util.UUID.randomUUID().toString.take(8)

  /** Stage `df` as immutable data under a writer-unique `<prefix>-<v>-<nonce>`
    * directory (`data/batch` for batches, `deletes/del` for delete keys)
    * and return its manifest entry: the bare directory, or directory +
    * the [min, max] envelope of `statsCol` (+ a bloom when `bloomFpp` >
    * 0). A dead writer's leftover is plain garbage — invisible to
    * readers, never colliding with a live write, reclaimed by
    * [[vacuum]]'s orphan sweep — so no reclaim-by-deletion of other
    * writers' paths is ever needed. The version in the name is advisory
    * (the slot this writer first targeted); the manifest, not the name,
    * decides membership.
    *
    * The envelope is computed by re-reading the WRITTEN files (one
    * single-column scan — the once-per-commit price of an envelope that
    * reflects exactly what landed).
    */
  private def stage(df: DataFrame, dir: String, v: Int,
      statsCol: Option[String] = None, bloomFpp: Double = 0.0,
      prefix: String = "data/batch"): BatchEntry = {
    val spark = df.sparkSession
    val rel = s"$prefix-$v-${nonce()}"
    df.write.mode("errorifexists").parquet(s"$dir/$rel")
    statsCol match {
      case None => BatchEntry(rel, None)
      case Some(c) =>
        import org.apache.spark.sql.functions.{min, max, count, col, lit}
        val written = spark.read.parquet(s"$dir/$rel")
        val r = written.agg(min(col(c)), max(col(c)), count(lit(1))).head()
        if (r.isNullAt(0)) BatchEntry(rel, None)
        else BatchEntry(rel, Some((c, r.getLong(0), r.getLong(1))),
          Option.when(bloomFpp > 0.0) {
            // distributed builder (partial blooms OR-merged — bit-identical
            // regardless of partitioning), sized from the batch's actual
            // row count; serialized inline so readers resolve point
            // lookups from the manifest alone, no file opened
            val bf = written.stat.bloomFilter(c, math.max(r.getLong(2), 1L), bloomFpp)
            val bos = new java.io.ByteArrayOutputStream()
            bf.writeTo(bos)
            java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
          })
    }
  }

  /** Rebase arbitration: which commit kinds (the `K <kind>` line of each
    * version published after the writer's base; "unknown" on manifests
    * predating the marker) abort an in-flight mutation. `what` names the
    * change in the abort message.
    *
    *  - [[SchemaChange]] (appends, ADVICE r13): data staged under the
    *    pre-rename schema must not rebase past an R/X line — its batch
    *    line would land AFTER the rename (readMasked applies no remap to
    *    it) while the parquet on disk carries the old physical name: a
    *    silent schema fork.
    *  - [[TargetChange]] ([[deleteRows]]): equality deletes are
    *    content-addressed, so rebasing across an append, delete, optimize
    *    or compact is sound; a replace or restore may have removed the
    *    rows the delete targeted, and a rename/drop would leave the staged
    *    D line naming a column the schema no longer carries.
    *  - [[AnyCommit]]: operations whose preconditions or entry lists
    *    derive from the base version (schema changes, overwrite masks,
    *    maintenance folds, restore, clone, merge) — any intervening
    *    commit aborts them and the caller reruns against the new state.
    */
  private case class Guard(what: String, aborts: String => Boolean)
  private val NoGuard = Guard("", _ => false)
  private val SchemaChange = Guard("renamed/dropped", Set("rename", "drop"))
  private val TargetChange =
    Guard("replaced/renamed/dropped", Set("replace", "restore", "rename", "drop"))
  private val AnyCommit = Guard("advanced", _ => true)

  private final class AlreadyCovered extends RuntimeException("txn already covered")

  /** The one optimistic commit loop. Each attempt lists the versions,
    * parses the latest manifest once, runs `guard` over every version
    * published since `base` (the version the caller's inputs were read
    * at; -1 for a fresh table), checks the stream-txn mark, and publishes
    * `K <kind>` + `next(latest entries)` + the txn mark at the next free
    * slot with create-if-absent; a lost slot retries. `next` sees the
    * latest entries without their K line (a kind is never carried
    * forward) and without `txn`'s own T line (replaced in place).
    *
    *  - Guard memo (ADVICE r14): a version's kind is immutable once
    *    published and the probed range only grows at the top, so each
    *    version is probed once per call, not once per retry.
    *  - Txn (Delta's txn-appId): a covered `(appId, batchId)` returns
    *    before staging; re-checked per attempt, so losing a publish race
    *    to our own replay twin aborts instead of rebasing past it.
    *  - Retry slot (ADVICE r7): derived from the listing alone. A failed
    *    publish does not imply the slot is taken — Hadoop rename's false
    *    return is overloaded — so an unadvanced listing retries the same
    *    slot; 64 failures abort.
    *  - Staged liveness (ADVICE r7): if the stats re-scan plus a long
    *    contention loop outlasted vacuum's orphan grace window, the sweep
    *    may have deleted the staged path; publishing a manifest that
    *    references it would corrupt the version, so the commit fails.
    *    Touching the path keeps its mtime inside the grace window.
    *
    * Every abort reclaims the staged path and throws
    * IllegalStateException naming `op` ([[AlreadyCovered]] for a covered
    * txn). Entries render to text only for the coordinator.
    */
  private def publish(spark: SparkSession, dir: String, op: String,
      kind: String, base: Int, guard: Guard,
      txn: Option[(String, Long)] = None,
      beforePublish: () => Unit = () => (),
      staged: => Option[ManifestEntry] = None)(
      next: Seq[ManifestEntry] => Seq[ManifestEntry]): Int = {
    val f = fs(spark, dir)
    def covered(entries: Seq[ManifestEntry]): Boolean =
      txn.exists { case (a, b) => txnOf(entries, a).exists(_ >= b) }
    if (txn.nonEmpty && base >= 0 && covered(entriesAt(spark, dir, base)))
      throw new AlreadyCovered
    val stagedPath = staged.map(e => new Path(s"$dir/${e.path}"))
    beforePublish() // test-injection seam (fires after staging, pre-publish)
    def reclaim(): Unit = stagedPath.foreach(f.delete(_, true))
    def abort(reason: String): Nothing = {
      reclaim()
      throw new IllegalStateException(s"$reason — rerun $op against the new state")
    }
    val tmpNonce = nonce()
    var slot = base + 1
    var checked = base + 1
    var tries = 0
    while (true) {
      val latest = versions(spark, dir).lastOption.getOrElse(-1)
      val prev = if (latest < 0) Seq.empty else entriesAt(spark, dir, latest)
      while (checked <= latest) {
        val k = kindOf(if (checked == latest) prev else entriesAt(spark, dir, checked))
        if (guard.aborts(k)) abort(s"table at $dir was ${guard.what} " +
          s"(v$checked is a '$k' commit) while $op was in flight")
        checked += 1
      }
      if (covered(prev)) { reclaim(); throw new AlreadyCovered }
      stagedPath.foreach { p =>
        if (!f.exists(p))
          abort(s"staged $p vanished before publish (vacuum orphan sweep?)")
        try f.setTimes(p, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () } // advisory refresh only
      }
      slot = math.max(slot, latest + 1)
      val body = KindEntry(kind) +: (next(prev.filter {
        case _: KindEntry => false
        case TxnEntry(a, _) => !txn.exists(_._1 == a)
        case _ => true
      }) ++ txn.map { case (a, b) => TxnEntry(a, b) })
      if (coordinator.publishIfAbsent(f, dir, slot, tmpNonce, body.map(render))) return slot
      tries += 1
      if (tries >= 64) abort(s"commit contention: 64 failed publishes at $dir")
    }
    slot
  }

  /** Row-level DELETE as a metadata commit — the capability that stops a
    * 100 TB "remove these keys" from being a full table rewrite (the q55
    * MERGE shape). The keys land in an immutable delete file under
    * `deletes/`, and the new manifest carries the previous version's
    * entries plus a `D <file> <keyCol>` line; readers anti-join the keys
    * at scan time (Iceberg's equality-delete semantics). Cost: writing
    * the key file — data files are untouched. The read-side anti-join is
    * one shuffle of (delete keys × matching column), paid per read until
    * [[compactDeletes]] folds the deletes into rewritten data.
    *
    * Deletes COMPOSE: later appends carry the delete lines forward
    * (still-visible old batches stay filtered), and a second deleteRows
    * adds another line. A replace commit drops them (its frame is the
    * whole new state). Time travel is unaffected — versions before the
    * delete read the keys back, because the delete is just a manifest
    * entry like any other.
    *
    * Concurrency (VERDICT r8): the publish rebases onto whatever landed
    * since this call started, and not every rebase is sound. Equality
    * deletes are content-addressed, so rebasing across an APPEND (keys
    * also filter the new rows — standard equality-delete semantics), a
    * concurrent DELETE, an OPTIMIZE, or a COMPACT (both content-
    * preserving rewrites: the folded batch carries the same live rows,
    * and re-applying already-folded keys is idempotent) is safe. A
    * REPLACE is not — the rows this delete targeted may be gone and the
    * replacement's rows were never in the caller's view — so the
    * [[TargetChange]] guard aborts loudly, leaving the table untouched;
    * the caller re-runs against the new state. This is the "does my
    * target still exist post-rebase" re-validation, expressed at the
    * level equality deletes live at: commit content classes, not batch
    * paths.
    *
    * `beforePublish` is a test-injection seam (fires after the key file
    * is staged, before the first publish attempt) so specs can
    * interleave a concurrent writer deterministically.
    */
  def deleteRows(keys: DataFrame, dir: String, keyCol: String,
      beforePublish: () => Unit = () => ()): Int = {
    val spark = keys.sparkSession
    import org.apache.spark.sql.functions.col
    require(versions(spark, dir).nonEmpty, s"no snapshot table at $dir")
    // a delete line on a column the table doesn't carry would poison
    // every future read (the anti-join fails at scan time) — fail the
    // commit here, before anything is published
    // schema-merged: on an evolved table the plain union-by-name read
    // throws before the check even runs, and a delete key living only in
    // newer batches is still a legal target (pre-evolution rows simply
    // carry it as null and never match)
    require(read(spark, dir, mergeSchema = true).columns.contains(keyCol),
      s"delete key column '$keyCol' not in table at $dir")
    val vEntry = versions(spark, dir).last
    val keyFile = DeleteEntry(
      stage(keys.select(col(keyCol)), dir, vEntry + 1, prefix = "deletes/del").batch,
      keyCol)
    publish(spark, dir, "deleteRows", "delete", vEntry, TargetChange,
      beforePublish = beforePublish, staged = Some(keyFile))(_ :+ keyFile)
  }

  /** RENAME COLUMN without rewriting a byte (Delta column-mapping
    * semantics): a metadata-only commit appends a [[RenameEntry]] and
    * remaps every manifest line that NAMES the column — batch stats
    * envelopes, per-batch masks, and pending delete-key lines all move
    * to the new name, so the whole read/prune/point/delete machinery
    * speaks the logical name from this version on while old batches
    * keep their physical name on disk ([[readMasked]] applies the
    * rename at the scan seam). Appends after the rename write the new
    * name and no-op under the rename line; renames CHAIN (a→b then
    * b→c reads a-era batches through both, in manifest order).
    *
    * Time travel is untouched: versions before the rename carry no R
    * line and read the old name. Maintenance folds write post-rename
    * data and carry the R lines for the batches they didn't touch.
    *
    * Concurrency: strictest arbitration, like [[overwriteRange]] — ANY
    * commit landing after this call read its base version aborts the
    * rename and the caller reruns. The from/to preconditions are
    * validated against the base schema; rebasing across an arbitrary
    * intervening commit could silently no-op (a concurrent rename of
    * the same column) or collide (an evolved append introducing `to`),
    * so the loop refuses rather than re-derive. The `to` name must be
    * free in the base schema (schema-merged, so a column an evolved
    * append introduced counts).
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Int = {
    require(versions(spark, dir).nonEmpty, s"no snapshot table at $dir")
    require(from != to, s"rename to the same name '$from' is a no-op — refused")
    val schema = read(spark, dir, mergeSchema = true).columns.toSet
    require(schema.contains(from),
      s"rename source column '$from' not in table at $dir")
    require(!schema.contains(to),
      s"rename target column '$to' already exists at $dir")
    publish(spark, dir, "renameColumn", "rename",
      versions(spark, dir).last, AnyCommit) { prev =>
      prev.map {
        case b @ BatchEntry(_, Some((c, mn, mx)), _) if c == from =>
          b.copy(stats = Some((to, mn, mx)))
        case m: MaskEntry if m.col == from => m.copy(col = to)
        case d: DeleteEntry if d.keyCol == from => d.copy(keyCol = to)
        case e => e
      } :+ RenameEntry(from, to)
    }
  }

  /** DROP COLUMN without rewriting a byte (Delta drop-column semantics):
    * a metadata-only commit appends a [[DropEntry]]; readers remove the
    * column right after the scan for every batch written before the
    * drop (manifest order, folded with renames — [[readMasked]]), so a
    * later rename or evolved append may reuse the name for a FRESH
    * column and pre-drop data never resurrects under it. Batch stats
    * envelopes (and their blooms) on the dropped column are STRIPPED at
    * commit — a pruning envelope on a column readers can't see would be
    * dead weight and a re-added same-named column must not inherit it.
    * Time travel is untouched: versions before the drop carry no X line
    * and read the column back.
    *
    * Refusals (run maintenance first, then drop): pending delete-key
    * lines on the column (the anti-join would be unresolvable post-drop
    * — [[compactDeletes]] folds them away) and pending masks on it (the
    * mask gates REPLACED rows; dropping its column would resurrect them
    * — [[optimize]] bakes masks in). Concurrency: strictest arbitration,
    * like [[renameColumn]] — any commit landing after this call read its
    * base version aborts the drop and the caller reruns.
    */
  def dropColumn(spark: SparkSession, dir: String, colName: String): Int = {
    require(versions(spark, dir).nonEmpty, s"no snapshot table at $dir")
    val schema = read(spark, dir, mergeSchema = true).columns.toSeq
    require(schema.contains(colName),
      s"drop column '$colName' not in table at $dir")
    require(schema.size > 1, s"cannot drop the only column of $dir")
    val vEntry = versions(spark, dir).last
    entriesAt(spark, dir, vEntry).foreach {
      case DeleteEntry(_, k) if k == colName =>
        throw new IllegalStateException(
          s"pending delete keys on '$colName' at $dir — run compactDeletes " +
            "before dropping the column")
      case MaskEntry(_, c, _, _) if c == colName =>
        throw new IllegalStateException(
          s"pending overwrite masks on '$colName' at $dir — run optimize " +
            "before dropping the column")
      case _ => ()
    }
    publish(spark, dir, "dropColumn", "drop", vEntry, AnyCommit) { prev =>
      prev.map {
        case b @ BatchEntry(_, Some((c, _, _)), _) if c == colName =>
          b.copy(stats = None, bloom = None)
        case e => e
      } :+ DropEntry(colName)
    }
  }

  /** OVERWRITE BY FILTER as a metadata commit (Delta `replaceWhere` /
    * Iceberg overwrite-by-filter semantics, WITHOUT the rewrite): the
    * new batch replaces every existing row with `column ∈ [lo, hi]`.
    * Existing batches are not touched on disk — each surviving prior
    * batch line gains a per-batch [[MaskEntry]] excluding the range at
    * read time, and a batch whose stats envelope proves it lies FULLY
    * inside the range is simply dropped from the manifest (its file
    * stays for time travel; vacuum reclaims it once no surviving
    * version references it). This is the "reload one day of a 100 TB
    * partitioned fact table" primitive: cost is writing the new day,
    * never rewriting the neighbors. Masks are scoped to batch NAMES,
    * so later appends are unaffected; [[optimize]]/[[compactDeletes]]
    * bake masks into their rewrites and drop the lines.
    *
    * Contract (Delta's): every incoming row must satisfy the predicate
    * — probed with an early-exit scan before anything is staged.
    * Concurrency: strictest arbitration of the store — ANY commit
    * landing after this call read its base version aborts the
    * overwrite (an intervening append's rows in-range must not be
    * silently masked, a replace/restore invalidates the target, and a
    * maintenance fold renames the batches the masks would attach to);
    * the caller reruns against the new state.
    */
  def overwriteRange(df: DataFrame, dir: String, column: String,
      lo: Long, hi: Long, statsCol: Option[String] = None,
      bloomFpp: Double = 0.0,
      beforePublish: () => Unit = () => ()): Int = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"overwriteRange needs lo <= hi, got [$lo, $hi]")
    require(versions(spark, dir).nonEmpty, s"no snapshot table at $dir")
    val bad = df.filter(col(column).isNull || col(column) < lo ||
      col(column) > hi).limit(1).count()
    require(bad == 0L,
      s"overwriteRange: incoming rows outside $column ∈ [$lo, $hi] — " +
        "commit aborted, nothing staged (replaceWhere contract)")
    val vEntry = versions(spark, dir).last
    val batch = stage(df, dir, vEntry + 1, statsCol,
      bloomFppFor(entriesAt(spark, dir, vEntry), statsCol, bloomFpp))
    publish(spark, dir, "overwriteRange", "replace-where", vEntry, AnyCommit,
      beforePublish = beforePublish, staged = Some(batch)) { prev =>
      val dropped = prev.collect {
        case BatchEntry(b, Some((c, mn, mx)), _)
          if c == column && mn >= lo && mx <= hi => b
      }.toSet
      prev.flatMap {
        case b: BatchEntry if dropped(b.batch) => Nil
        // a batch whose recorded envelope (same column) provably misses
        // [lo, hi] needs no mask — attaching one anyway accumulates dead
        // mask lines across repeated overwrites and splits readMasked
        // into extra per-signature reads (ADVICE r9)
        case b @ BatchEntry(_, Some((c, mn, mx)), _)
          if c == column && (mx < lo || mn > hi) => Seq(b)
        case b: BatchEntry => Seq(b, MaskEntry(b.batch, column, lo, hi))
        case m: MaskEntry if dropped(m.batch) => Nil
        case e => Seq(e)
      }.distinct :+ batch
    }
  }

  /** Fold pending deletes into rewritten data — the maintenance pass that
    * makes [[deleteRows]]'s read-side anti-join temporary: batches whose
    * recorded stats envelope provably misses every delete key are carried
    * AS-IS (manifest line unchanged, stats preserved — at 100 TB most
    * batches of a key-clustered table skip here); the rest are read,
    * anti-joined once, and land as one fresh compacted batch. The new
    * manifest has no delete lines, so subsequent reads are plain scans
    * again. Old versions still reference the delete files and pre-rewrite
    * batches — time travel intact until [[vacuum]] reclaims them past the
    * retention window.
    *
    * Aborts across ANY concurrent commit ([[AnyCommit]]): folding is
    * derived from the version read at entry, and rebasing onto a
    * concurrent commit could silently drop its batch — a lost race fails
    * loudly instead and the caller reruns against the new state.
    */
  def compactDeletes(spark: SparkSession, dir: String,
      statsCol: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.{col, min, max}
    val v = latestVersion(spark, dir)
    val entries = entriesAt(spark, dir, v)
    val dels = entries.collect { case d: DeleteEntry => d }
    if (dels.isEmpty) return v
    val batches = entries.collect { case b: BatchEntry => b }
    val delFrames = dels.groupBy(_.keyCol).toSeq.sortBy(_._1).map { case (c, es) =>
      // single-column by construction; bind by position PER FILE and
      // union — renameColumn remaps keyCol while each file keeps the
      // physical name of its own era (applyDeletes has the same note)
      c -> es.map(e => spark.read.parquet(resolve(dir, e.path)).toDF(c))
        .reduce(_ unionAll _)
    }
    // driver-side [min, max] of each delete-key set — a layout-build
    // scalar over the (small) delete files, like manifestPrune's range
    // sizing; never a scan of the data
    val delRange: Map[String, (Long, Long)] = delFrames.flatMap { case (c, df) =>
      if (df.schema(c).dataType != org.apache.spark.sql.types.LongType) None
      else {
        val r = df.agg(min(col(c)), max(col(c))).head()
        if (r.isNullAt(0)) None else Some(c -> ((r.getLong(0), r.getLong(1))))
      }
    }.toMap
    // a batch skips the rewrite only if its envelope covers the ONE
    // delete column and provably misses the whole key range — with
    // deletes on any other column nothing is provable and it rewrites
    val delCols = delFrames.map(_._1).toSet
    val (untouched, rewrite) = batches.partition { b =>
      b.stats.exists { case (c, mn, mx) =>
        delCols == Set(c) &&
          delRange.get(c).exists { case (dmn, dmx) => dmx < mn || dmn > mx } }
    }
    // masks apply before the delete anti-join (a raw read would
    // resurrect overwritten rows into the compacted batch); mergeSchema
    // like optimize's fold: the rewritten batches may span schemas
    // (evolved appends, a dropColumn boundary) — a positional union
    // would throw on the width mismatch
    val folded = Option.when(rewrite.nonEmpty) {
      stage(delFrames.foldLeft(
        readMasked(spark, dir, rewrite.map(_.batch), entries,
          mergeSchema = true)) {
          case (df, (c, keys)) => df.join(keys, Seq(c), "left_anti")
        }, dir, v + 1, statsCol, bloomFppFor(entries, statsCol, 0.0))
    }
    val untouchedSet = untouched.map(_.batch).toSet
    publish(spark, dir, "compactDeletes", "compact", v, AnyCommit,
      staged = folded) { prev =>
      // untouched batch lines, their masks (their files were not
      // rewritten, so the masks still gate their reads), and rename/drop
      // lines keep their ORIGINAL relative order: a batch line precedes
      // exactly the renames that postdate its write, and an untouched
      // batch appended AFTER a rename must stay after its R line
      // (hoisting R lines to the end would spuriously rename a later
      // batch's fresh same-named column). The folded batch follows —
      // written through the renamed read, so every carried R line
      // predates it — then the stream-txn marks: compaction rewrites
      // data, not the streams' replay ledger.
      prev.filter {
        case b: BatchEntry => untouchedSet(b.batch)
        case m: MaskEntry => untouchedSet(m.batch)
        case _: RenameEntry | _: DropEntry => true
        case _ => false
      } ++ folded ++ prev.collect { case t: TxnEntry => t }
    }
  }

  /** OPTIMIZE — fold an accumulation of small append batches into one
    * rewritten batch (the Delta `OPTIMIZE` / Iceberg rewrite-data-files
    * maintenance pass; the snapshot-store sibling of
    * [[graft.sources.Formats]]'s file-level compaction). Content-neutral
    * by construction: delete lines and stream-txn marks carry forward
    * untouched — the rewrite copies RAW batch data, so pending row-level
    * deletes still apply at read time exactly as before, and a replayed
    * micro-batch still finds its txn mark. No-op (returns the current
    * version) when the table already has ≤ `maxBatches` batches. Old
    * versions keep referencing the pre-rewrite batches — time travel
    * intact until [[vacuum]] reclaims them.
    *
    * A streaming table is the motivating case: one commit per
    * micro-batch = thousands of KB-sized batch dirs whose per-read cost
    * is dominated by file listing/footers; periodic optimize restores
    * scan efficiency without stopping the stream (the publish is the
    * same optimistic commit — a concurrent append wins or loses the
    * slot cleanly; a lost race here aborts like compactDeletes and
    * reclaims the folded batch).
    */
  def optimize(spark: SparkSession, dir: String,
      statsCol: Option[String] = None, maxBatches: Int = 1): Int = {
    require(maxBatches >= 1, s"maxBatches must be >= 1, got $maxBatches")
    val v = latestVersion(spark, dir)
    val entries = entriesAt(spark, dir, v)
    val batches = entries.collect { case b: BatchEntry => b }
    if (batches.size <= maxBatches) return v
    // keep pruning envelopes alive across the rewrite: when the caller
    // passes no statsCol but every existing envelope agrees on one
    // column, re-derive stats on that column for the folded batch
    val inferred = statsCol.orElse {
      batches.flatMap(_.stats.map(_._1)).distinct match {
        case Seq(only) => Some(only)
        case _ => None
      }
    }
    // mergeSchema: on an evolved table the folded batches may span
    // schemas — a plain union-by-position read would drop the columns
    // only the newer batches carry. Masks apply during the fold (a raw
    // read would resurrect overwritten rows) and are thereby baked into
    // the folded batch — the new manifest carries no mask lines.
    val folded = stage(
      readMasked(spark, dir, batches.map(_.batch), entries, mergeSchema = true),
      dir, v + 1, inferred, bloomFppFor(entries, inferred, 0.0))
    publish(spark, dir, "optimize", "optimize", v, AnyCommit,
      staged = Some(folded)) { prev =>
      // rename lines DROP here, like mask lines: optimize folds EVERY
      // batch, the folded data is written through the renamed read, so
      // the logical names are baked into the rewrite and no old-named
      // file survives for an R line to act on (older versions keep
      // their own manifests for time travel)
      folded +: prev.collect {
        case d: DeleteEntry => d
        case t: TxnEntry => t
      }
    }
  }

  /** RESTORE — rewind the table's CURRENT state to an earlier version as
    * a NEW commit (Delta's `RESTORE TABLE ... TO VERSION AS OF`): the new
    * manifest re-references version `version`'s batch entries AND its
    * pending delete lines verbatim, so the visible state equals a
    * time-travel read of that version — metadata only, zero data copied
    * or deleted, history intact (the pre-restore latest is still
    * readable, and [[diff]] across the restore shows exactly the rows it
    * rewound). The undo primitive for a bad replace/merge on a 100 TB
    * table: cost is one manifest write, not a rewrite.
    *
    * Kind-marked `restore` and treated like a REPLACE by rebase
    * arbitration ([[deleteRows]] aborts across it): rows present in the
    * pre-restore latest may no longer exist afterwards. Stream-txn marks
    * carry from the CURRENT latest, not the restore target — the replay
    * ledger must never rewind, or a restarted stream would double-commit
    * micro-batches the restored-away versions had recorded.
    *
    * Aborts across any concurrent commit (same rule as [[optimize]]):
    * the restored entry list is derived from the version read at entry,
    * and rebasing onto a concurrent commit would silently discard it — a
    * lost race fails loudly and the caller re-runs against the new state.
    *
    * Once published, the restore manifest itself protects the target's
    * batches from [[vacuum]] (they are referenced by a surviving
    * version again). The unprotected window is a vacuum running BETWEEN
    * this call's read of version `version` and its publish — the same
    * shared-fate contract as [[cloneTable]]: keep restore targets inside
    * the vacuum retention window, or serialize restore with maintenance.
    */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val vs = versions(spark, dir)
    require(vs.contains(version), s"no version $version at $dir")
    val vLatest = vs.last
    if (version == vLatest) return vLatest
    // the restored state keeps its masks and its column names
    val target = stateOf(entriesAt(spark, dir, version), identity)
    publish(spark, dir, "restore", "restore", vLatest, AnyCommit) { prev =>
      target ++ prev.collect { case t: TxnEntry => t }
    }
  }

  /** Manifest-stats pruned read: batches whose recorded [min, max]
    * envelope on `column` misses [lo, hi] are dropped from the file
    * listing BEFORE any parquet footer is touched — directory-level
    * skipping one level above the parquet row-group stats (which still
    * apply inside the surviving batches). Batches without a recorded
    * envelope are conservatively kept. Results must equal a plain
    * filter at the same version — pruning changes cost, never content —
    * so the residual predicate is always applied.
    */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long, version: Int = -1,
      mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = if (version < 0) latestVersion(spark, dir) else version
    val entries = entriesAt(spark, dir, v)
    val kept = entries.collect {
      case BatchEntry(b, None, _) => b
      case BatchEntry(b, Some((c, mn, mx)), _)
        if c != column || (mx >= lo && mn <= hi) => b
    }
    // mergeSchema threads through like read(): on an evolved table the
    // surviving batches may span schemas, and the contract is pruned
    // result == plain filter at the same version — which the plain read
    // only satisfies schema-merged
    val base =
      if (kept.isEmpty) readEntries(spark, dir, entries, mergeSchema).limit(0) // schema-preserving empty
      else readMasked(spark, dir, kept, entries, mergeSchema)
    // row-level deletes apply here too: pruned result == plain filter at
    // the same version, and the plain read anti-joins the delete keys
    applyDeletes(spark, dir, entries, base)
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** Batch directories a point lookup on `column ∈ keys` must read at
    * `version`, resolved from the MANIFEST alone: a batch survives only
    * if its min/max envelope admits at least one key AND (when the
    * commit recorded one) its bloom filter might contain one. The bloom
    * is what makes this work on hash-distributed layouts — batches split
    * by key hash have fully overlapping envelopes, so the range stats
    * keep everything, but each key's bits land in exactly one batch's
    * bloom (plus fpp-rate false positives). Batches without stats, or
    * with stats on another column, are conservatively kept — skipping
    * changes cost, never content (no false negatives is the bloom
    * contract that makes this exact).
    */
  def pointBatches(spark: SparkSession, dir: String, column: String,
      keys: Seq[Long], version: Int = -1): Seq[String] = {
    val v = if (version < 0) latestVersion(spark, dir) else version
    pointFilter(entriesAt(spark, dir, v), column, keys)
  }

  private def pointFilter(entries: Seq[ManifestEntry], column: String,
      keys: Seq[Long]): Seq[String] =
    entries.collect { case b: BatchEntry => b }.filter { e =>
      e.stats match {
        case None => true
        case Some((c, _, _)) if c != column => true
        case Some((_, mn, mx)) =>
          val inEnv = keys.filter(k => k >= mn && k <= mx)
          inEnv.nonEmpty && (e.bloom match {
            case None => true
            case Some(b64) =>
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  java.util.Base64.getDecoder.decode(b64)))
              inEnv.exists(bf.mightContainLong)
          })
      }
    }.map(_.batch)

  /** Point lookup through the manifest blooms ([[pointBatches]]): read
    * only the surviving batch directories, then apply the exact filter
    * (bloom false positives are removed here) and any pending row-level
    * deletes. Result must equal `read(...).filter(column isin keys)` —
    * the layout decides cost, never content. The 100 TB shape: a needle
    * query on a thousand-batch table opens the one batch whose bloom
    * bits match instead of scanning the table.
    */
  def readPoint(spark: SparkSession, dir: String, column: String,
      keys: Seq[Long], version: Int = -1,
      mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = if (version < 0) latestVersion(spark, dir) else version
    val entries = entriesAt(spark, dir, v)
    val kept = pointFilter(entries, column, keys)
    val base =
      if (kept.isEmpty) readEntries(spark, dir, entries, mergeSchema).limit(0)
      else readMasked(spark, dir, kept, entries, mergeSchema)
    applyDeletes(spark, dir, entries, base)
      .filter(col(column).isin(keys: _*))
  }

  // ------------------------------------------------- clones and tags
  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` / Iceberg
    * snapshot-ref semantics): materialize `dstDir` as an independent
    * snapshot table whose v0 references `srcDir`'s batches AT `version`
    * by absolute path — zero data copied, KBs of manifest written. From
    * then on the two tables diverge freely: commits on the clone land
    * in the clone's own `data/`, the parent never sees them, and every
    * read/delete/optimize on either side works unchanged (entry paths
    * resolve via [[resolve]]). [[optimize]] on the clone rewrites the
    * referenced batches into LOCAL data — the explicit
    * "deep-copy when you're ready" materialization step.
    *
    * The one shared-fate contract, same as Delta's: [[vacuum]] on the
    * PARENT does not know about clones — reclaiming parent versions the
    * clone still references breaks the clone (vacuum on the clone is
    * always safe: absolute foreign paths are outside its `data/`
    * listing and its reference-set protection covers local batches).
    * Clone before you vacuum, or optimize the clone to self-contain it.
    *
    * Delete lines carry over absolutized (pending parent deletes keep
    * applying at the fork point); stream-txn marks deliberately do NOT
    * (the clone is a new ingest lineage — a stream writing to the clone
    * must start its own ledger, not inherit replay state aimed at the
    * parent).
    */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      version: Int = -1): Int = {
    require(srcDir.startsWith("/") || srcDir.contains("://"),
      s"cloneTable needs an absolute source path, got $srcDir")
    require(versions(spark, dstDir).isEmpty,
      s"clone target $dstDir is already a snapshot table")
    val v = if (version < 0) latestVersion(spark, srcDir) else version
    val entries = stateOf(entriesAt(spark, srcDir, v), resolve(srcDir, _))
    publish(spark, dstDir, "cloneTable", "clone", -1, AnyCommit)(_ => entries)
  }

  /** A version's table state — batch, delete, mask, rename and drop
    * entries in manifest order, without its kind and stream-txn marks —
    * with every data path mapped through `relocate`. Masks move WITH
    * their batch, or reads would resurrect overwritten rows.
    */
  private def stateOf(entries: Seq[ManifestEntry],
      relocate: String => String): Seq[ManifestEntry] = entries.collect {
    case b: BatchEntry => b.copy(batch = relocate(b.batch))
    case d: DeleteEntry => d.copy(path = relocate(d.path))
    case m: MaskEntry => m.copy(batch = relocate(m.batch))
    case r: RenameEntry => r
    case x: DropEntry => x
  }

  /** VACUUM — Delta's file vacuum and log retention in one pass:
    * physically delete every data path (batch dirs under `data/`,
    * delete-key dirs under `deletes/`) that no RETAINED manifest
    * references, then drop the pre-retention manifests, so time travel
    * beyond the horizon fails explicitly instead of reading files that
    * may be gone; reads at retained versions are untouched (their file
    * lists don't change). Retention is by version COUNT (keep the newest
    * `keepVersions`) or by WATERMARK (keep versions >= `keepFrom`);
    * production keys the same mechanics on commit timestamps. Tagged
    * versions are pinned either way ([[tag]]).
    *
    * Also sweeps ORPHANS: data written by a writer that died (or gave
    * up) before publishing appears in no manifest and would otherwise
    * leak forever (writer-unique names mean nothing ever reclaims the
    * path) — caught by the physical listing, exactly why real vacuums
    * list the directory instead of diffing logs. Only orphans older than
    * `orphanGraceMs` go: a LIVE writer's in-flight staging is physically
    * indistinguishable from an aborted one and always younger than the
    * grace window (Delta VACUUM's retention-interval contract, applied
    * to staging data; ADVICE r11).
    *
    * A shallow clone's absolute (parent-owned) entries are never deleted
    * or reported — the clone doesn't own them; conversely the parent's
    * vacuum can't see the clone (cloning pins no lease — the documented
    * shallow-clone caveat, same as Delta's). A MERGED branch refuses to
    * vacuum ([[mergeBranch]]). Metadata-plane cost: manifests are KBs
    * and the listing is one RPC per prefix; the deletes are the only
    * data-plane work.
    *
    * The `keepVersions` overloads return (nPathsRemoved, nPathsLive);
    * the default orphan grace is 1 h.
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int): (Int, Int) =
    vacuum(spark, dir, keepVersions, 3600 * 1000)

  // grace is Int here (vs the keepFrom overload's Long) so the two
  // overloads don't erase to the same signature; 2^31 ms ≈ 24 days is
  // far beyond any sane staging grace. No default — Scala allows default
  // args on only one overload (keepFrom holds it).
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int,
      orphanGraceMs: Int): (Int, Int) = {
    require(keepVersions >= 1, "vacuum must retain at least the latest version")
    val (removed, live) =
      vacuumRetaining(spark, dir, orphanGraceMs, _.takeRight(keepVersions))
    (removed.size, live.size)
  }

  /** [[vacuum]] by watermark: drops versions below `keepFrom` and
    * returns the removed paths (dead committed paths, then orphans).
    */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Int,
      orphanGraceMs: Long = 3600L * 1000): Seq[String] =
    vacuumRetaining(spark, dir, orphanGraceMs, { vs =>
      require(vs.contains(keepFrom), s"keepFrom=$keepFrom not a version of $dir")
      vs.filter(_ >= keepFrom)
    })._1

  /** The one vacuum body: `retain` picks the untagged versions to keep.
    * Returns (removed paths, live paths of the kept versions).
    */
  private def vacuumRetaining(spark: SparkSession, dir: String,
      orphanGraceMs: Long, retain: Seq[Int] => Seq[Int]): (Seq[String], Set[String]) = {
    val f = fs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no snapshot table at $dir")
    // merged-branch protection: after mergeBranch, MAIN's manifests
    // reference branch-local batches by absolute path (clone-parent
    // contract). A branch vacuum only sees the BRANCH's reference set,
    // so it would reclaim batches main still needs — refuse while any
    // main manifest points into this branch dir (optimize main to
    // self-contain the merged entries first; ADVICE r12).
    dir match {
      case branchDirPattern(parent, name) =>
        val mainRefs = versions(spark, parent)
          .flatMap(v => entriesAt(spark, parent, v).map(_.path))
        require(!mainRefs.exists(_.startsWith(s"$dir/")),
          s"branch '$name' is referenced by merged manifests of $parent — " +
            "vacuuming the branch would break main's merged versions; " +
            "optimize main to self-contain them first")
      case _ =>
    }
    // tagged versions are pinned: a tag promises read(tagVersion(name))
    // reproduces that state, so vacuum must never reclaim it (Iceberg's
    // ref-protected expiry) — retention applies to UNTAGGED history only
    val tagged = tags(spark, dir).map(_._2).toSet
    val keep = retain(vs).toSet ++ vs.filter(tagged)
    // "referenced" spans batch dirs AND delete files — a delete file a
    // kept version still anti-joins must outlive the vacuum, and one only
    // dropped manifests reference (e.g. after compactDeletes folded it)
    // is reclaimed here, completing the delete lifecycle. Masks, txn and
    // kind marks have empty paths: they reference no file and must never
    // reach a delete call (an empty relative path resolves to the root).
    val refs = vs.map(v => v -> entriesAt(spark, dir, v).map(_.path).filter(_.nonEmpty)).toMap
    val live = vs.filter(keep).flatMap(refs).toSet
    val referenced = vs.flatMap(refs).distinct
    // FOREIGN (absolute) entries are a shallow clone's references into
    // its parent table — never this table's to reclaim
    val dead = referenced
      .filterNot(p => live(p) || p.startsWith("/") || p.contains("://"))
    val known = referenced.toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    val orphans = Seq("data", "deletes").flatMap { sub =>
      val root = new Path(s"$dir/$sub")
      if (!f.exists(root)) Seq.empty
      else f.listStatus(root).toSeq.collect {
        case st if st.getModificationTime < cutoff &&
          !known(s"$sub/${st.getPath.getName}") =>
          s"$sub/${st.getPath.getName}"
      }
    }
    (dead ++ orphans).foreach(p => f.delete(new Path(s"$dir/$p"), true))
    vs.filterNot(keep).foreach(v => f.delete(manifestPath(dir, v), false))
    (dead ++ orphans, live)
  }

  /** DESCRIBE HISTORY (Delta's audit surface): one row per version with
    * the commit kind that produced it and what its manifest references —
    * batch directories, pending delete files, stream-txn marks. Pure
    * metadata plane (manifests only, no data file touched), same cost
    * class as [[tags]]; the operational answer to "what happened to this
    * table and when" that every governed lakehouse table must provide.
    * Versions predating the kind marker (or hand-built fixtures) read as
    * 'unknown' rather than failing the audit.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = versions(spark, dir).map { v =>
      val es = entriesAt(spark, dir, v)
      (v.toLong,
        kindOf(es),
        es.count(_.isInstanceOf[BatchEntry]).toLong,
        es.count(_.isInstanceOf[DeleteEntry]).toLong,
        es.count(_.isInstanceOf[TxnEntry]).toLong)
    }
    rows.toDF("version", "kind", "n_batches", "n_deletes", "n_txns")
      .orderBy(org.apache.spark.sql.functions.col("version"))
  }

  private def refsDir(dir: String) = new Path(s"$dir/_refs")
  private val refName = "[A-Za-z0-9][A-Za-z0-9._-]*".r
  private val branchDirPattern = "^(.*)/branches/([A-Za-z0-9][A-Za-z0-9._-]*)$".r

  /** Tag `version` (default latest) with an immutable name — the
    * release-pinning primitive (Iceberg tags): `read(tagVersion(...))`
    * reproduces a named state forever — [[vacuum]] treats tagged
    * versions as pinned, outside its retention window. Tags are
    * create-once: re-tagging an existing name fails loudly rather than
    * silently moving a pin someone else resolved.
    */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Int = -1): Int = {
    require(refName.pattern.matcher(name).matches(),
      s"invalid tag name '$name' (want ${refName.regex})")
    val v = if (version < 0) latestVersion(spark, dir) else version
    require(versions(spark, dir).contains(v), s"no version $v at $dir")
    writeRef(fs(spark, dir), new Path(refsDir(dir), name), v)
    v
  }

  /** All tags as (name, version), name-sorted. */
  def tags(spark: SparkSession, dir: String): Seq[(String, Int)] = {
    val f = fs(spark, dir)
    if (!f.exists(refsDir(dir))) return Seq.empty
    f.listStatus(refsDir(dir)).toSeq.map(_.getPath)
      .map(p => p.getName -> readRef(f, p))
      .sortBy(_._1)
  }

  /** Tags and fork bases are one-integer files, created once: create-if-
    * absent (overwrite = false) is what makes them immutable.
    */
  private def writeRef(f: FileSystem, p: Path, v: Int): Unit = {
    val out = f.create(p, false)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  private def readRef(f: FileSystem, p: Path): Int = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
    finally in.close()
  }

  def tagVersion(spark: SparkSession, dir: String, name: String): Int =
    tags(spark, dir).collectFirst { case (`name`, v) => v }.getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' at $dir"))

  /** Read the table at a named tag. */
  def readTagged(spark: SparkSession, dir: String, name: String,
      mergeSchema: Boolean = false): DataFrame =
    read(spark, dir, tagVersion(spark, dir, name), mergeSchema)

  // ------------------------------------------------------------ branches
  /** Root of a named branch: a shallow clone living INSIDE the parent
    * table's directory tree (outside `data/`/`deletes/`, so the
    * parent's vacuum listing never touches it).
    */
  def branchDir(dir: String, name: String): String = s"$dir/branches/$name"

  private def forkBasePath(dir: String, name: String) =
    new Path(s"${branchDir(dir, name)}/_FORK_BASE")

  /** CREATE BRANCH (Iceberg branches, git-style): fork an isolated
    * WRITABLE line of history at `version` (default: current head) —
    * zero data copied ([[cloneTable]] mechanics: the branch's v0
    * references the parent's batches by absolute path). Commits to the
    * branch land in the branch's own `data/`; the main table never sees
    * them until [[mergeBranch]]. The fork-base version is recorded for
    * merge-time fast-forward detection. Returns the fork base.
    */
  def createBranch(spark: SparkSession, dir: String, name: String,
      version: Int = -1): Int = {
    require(refName.pattern.matcher(name).matches(),
      s"invalid branch name '$name' (want ${refName.regex})")
    require(dir.startsWith("/") || dir.contains("://"),
      s"createBranch needs an absolute table path, got $dir")
    val v = if (version < 0) latestVersion(spark, dir) else version
    val bd = branchDir(dir, name)
    cloneTable(spark, dir, bd, v)
    writeRef(fs(spark, dir), forkBasePath(dir, name), v)
    v
  }

  /** The branch's current state (latest branch version by default). */
  def readBranch(spark: SparkSession, dir: String, name: String,
      version: Int = -1, mergeSchema: Boolean = false): DataFrame =
    read(spark, branchDir(dir, name), version, mergeSchema)

  /** MERGE (fast-forward only): publish the branch head's state as the
    * main table's next version — pure metadata, no data moves. The
    * merge REFUSES if main advanced past the fork base (a non-FF merge
    * needs a rebase policy this store deliberately doesn't guess at —
    * Iceberg's fast_forward semantics). Entry paths normalize so the
    * merged manifest stays vacuum-safe on main: paths inside MAIN
    * re-relativize (they are main's own pre-fork batches and must stay
    * inside its vacuum's reference set); branch-local paths absolutize
    * into the branch dir (foreign, vacuum-exempt — the clone-parent
    * contract; `optimize` on main self-contains them when wanted).
    * Those branch batches are then load-bearing for MAIN, so [[vacuum]]
    * on the BRANCH refuses while any main manifest references the
    * branch dir (ADVICE r12 — the branch's own reference set can't see
    * main's claims; deleting the branch directory outright carries the
    * same hazard and the same remedy: optimize main first).
    * Returns the new main version.
    */
  def mergeBranch(spark: SparkSession, dir: String, name: String): Int = {
    val bd = branchDir(dir, name)
    val f = fs(spark, dir)
    require(f.exists(forkBasePath(dir, name)), s"no branch '$name' at $dir")
    val base = readRef(f, forkBasePath(dir, name))
    val mainHead = latestVersion(spark, dir)
    require(mainHead == base,
      s"non-fast-forward: main advanced $base -> $mainHead since the fork " +
        s"of '$name'; rebase the branch before merging")
    val head = latestVersion(spark, bd)
    def norm(p: String): String = {
      val abs = resolve(bd, p)
      if (abs.startsWith(s"$dir/") && !abs.startsWith(s"$bd/"))
        abs.stripPrefix(s"$dir/")
      else abs
    }
    // txn marks deliberately do NOT merge (the clone rationale: the
    // branch is its own ingest lineage; replay state must not leak)
    val entries = stateOf(entriesAt(spark, bd, head), norm)
    publish(spark, dir, "mergeBranch", "merge", mainHead, AnyCommit)(_ => entries)
  }

  /** All branches as (name, forkBase), name-sorted. */
  def branches(spark: SparkSession, dir: String): Seq[(String, Int)] = {
    val f = fs(spark, dir)
    val root = new Path(s"$dir/branches")
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => f.exists(forkBasePath(dir, n)))
      .map(n => n -> readRef(f, forkBasePath(dir, n)))
      .sortBy(_._1)
  }

  private sealed trait ManifestEntry { def path: String }
  /** `bloom` carries a base64 `org.apache.spark.util.sketch.BloomFilter`
    * over the SAME column as `stats` — the point-lookup complement of the
    * min/max envelope (batches split by hash have fully overlapping
    * envelopes, so range stats can never skip them; a bloom can).
    */
  private case class BatchEntry(batch: String,
      stats: Option[(String, Long, Long)],
      bloom: Option[String] = None) extends ManifestEntry {
    def path: String = batch
  }
  /** A row-level delete: `path` holds the keys, readers anti-join on
    * `keyCol`. Serialized as `D <path> <keyCol>` — the leading `D` can
    * never collide with a batch line (those start with `data/`).
    */
  private case class DeleteEntry(path: String, keyCol: String) extends ManifestEntry

  /** A per-batch predicate mask `M <batch> <col> <lo> <hi>`: when
    * reading THAT batch, rows with col ∈ [lo, hi] are excluded — the
    * metadata half of [[overwriteRange]] (Iceberg overwrite-by-filter):
    * replaced ranges of OLD batches are masked out instead of
    * rewritten. Scoped to one batch by name, so later appends are
    * never affected (unlike key-deletes, which are content-addressed
    * and global). No file behind it (path empty — the batch file
    * belongs to its own line); masks stack across overwrites.
    */
  private case class MaskEntry(batch: String, col: String, lo: Long,
      hi: Long) extends ManifestEntry {
    def path: String = ""
  }

  /** A stream-transaction mark `T <appId> <batchId>`: no file behind it
    * (path is empty — vacuum and the reference-set computations skip
    * empty paths), pure idempotence metadata for [[commitWithTxn]].
    */
  private case class TxnEntry(appId: String, batchId: Long) extends ManifestEntry {
    def path: String = ""
  }

  /** The commit-kind marker `K <kind>`: one per manifest, describing the
    * commit that produced THAT version (never carried forward on rebase).
    * No file behind it; exists so concurrent writers can classify what
    * they are rebasing across ([[Guard]]).
    */
  private case class KindEntry(kind: String) extends ManifestEntry {
    def path: String = ""
  }

  /** A column rename `R <from> <to>` ([[renameColumn]] — Delta
    * column-mapping semantics without the rewrite): batches written
    * BEFORE the rename keep their physical column name on disk; readers
    * apply the renames in manifest order right after the parquet scan
    * (`withColumnRenamed` no-ops on batches that already carry the new
    * name, so post-rename appends and maintenance rewrites need no
    * special casing). Mask/delete/stats lines are remapped to the new
    * name AT COMMIT TIME, so everything downstream of the scan speaks
    * one name. No file behind it; renames chain (a→b then b→c reads
    * a-era batches through both).
    */
  private case class RenameEntry(from: String, to: String) extends ManifestEntry {
    def path: String = ""
  }

  /** A column drop `X <col>` ([[dropColumn]] — Delta drop-column
    * semantics without a rewrite): batches written BEFORE the drop keep
    * the physical column on disk; readers remove it right after the
    * scan, folded with renames in manifest order — so a later rename
    * (or evolved append) may legally reuse the name for a FRESH column
    * and pre-drop data never resurrects under it. No file behind it.
    */
  private case class DropEntry(colName: String) extends ManifestEntry {
    def path: String = ""
  }

  private def render(e: ManifestEntry): String = e match {
    case BatchEntry(b, None, _) => b
    case BatchEntry(b, Some((c, mn, mx)), None) => s"$b\t$c\t$mn\t$mx"
    case BatchEntry(b, Some((c, mn, mx)), Some(bl)) => s"$b\t$c\t$mn\t$mx\t$bl"
    case DeleteEntry(p, c) => s"D\t$p\t$c"
    case MaskEntry(b, c, lo, hi) => s"M\t$b\t$c\t$lo\t$hi"
    case TxnEntry(a, b) => s"T\t$a\t$b"
    case KindEntry(k) => s"K\t$k"
    case RenameEntry(f, t) => s"R\t$f\t$t"
    case DropEntry(c) => s"X\t$c"
  }

  private def parseEntry(line: String): ManifestEntry =
    line.split('\t') match {
      case Array("D", p, c) => DeleteEntry(p, c)
      case Array("M", b, c, lo, hi) => MaskEntry(b, c, lo.toLong, hi.toLong)
      case Array("T", a, b) => TxnEntry(a, b.toLong)
      case Array("K", k) => KindEntry(k)
      case Array("R", f, t) => RenameEntry(f, t)
      case Array("X", c) => DropEntry(c)
      case Array(b, c, mn, mx) => BatchEntry(b, Some((c, mn.toLong, mx.toLong)))
      case Array(b, c, mn, mx, bl) =>
        BatchEntry(b, Some((c, mn.toLong, mx.toLong)), Some(bl))
      case Array(b) => BatchEntry(b, None)
      case other => throw new IllegalStateException(
        s"malformed manifest line: ${other.mkString("\\t")}")
    }

  /** Version `v`'s manifest, parsed. The body is one entry per line,
    * tab-separated (JSON-free on purpose — no parser dependency,
    * trivially greppable).
    */
  private def entriesAt(spark: SparkSession, dir: String, v: Int): Seq[ManifestEntry] = {
    val f = fs(spark, dir)
    val p = manifestPath(dir, v)
    require(f.exists(p), s"version $v not found at $dir")
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    body.linesIterator.map(_.trim).filter(_.nonEmpty).map(parseEntry).toVector
  }

  /** Commit kind of a parsed manifest (its `K` line; "unknown" on
    * manifests predating the marker).
    */
  private def kindOf(entries: Seq[ManifestEntry]): String =
    entries.collectFirst { case KindEntry(k) => k }.getOrElse("unknown")

  private def masksOf(entries: Seq[ManifestEntry]): Map[String, Seq[MaskEntry]] =
    entries.collect { case m: MaskEntry => m }.groupBy(_.batch)

  /** Read batch directories applying their per-batch predicate masks
    * ([[MaskEntry]]): batches sharing a mask signature read in one
    * pass (the no-mask common case is a single read, byte-identical to
    * the pre-mask path); null mask-column rows survive (they are not
    * in any [lo, hi]). All raw batch reads — [[read]], the pruned and
    * point paths, and the maintenance folds — MUST come through here:
    * a raw `spark.read.parquet` on a masked batch would resurrect
    * overwritten rows. Column renames ([[RenameEntry]]) apply PER
    * BATCH, by manifest order: a batch line earlier than an R line was
    * written under the pre-rename physical name and reads through it;
    * a batch appended after the rename already carries the logical
    * name and gets nothing applied (chained renames compose in order).
    * They run right after the scan and BEFORE the mask filter —
    * mask/delete lines were remapped to post-rename names at the
    * rename commit, so this is the one seam where physical (on-disk)
    * names become logical ones.
    */
  private def readMasked(spark: SparkSession, dir: String,
      batches: Seq[String], entries: Seq[ManifestEntry],
      mergeSchema: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val masks = masksOf(entries)
    // schema ops that apply to a batch = the R/X lines AFTER its
    // manifest line, in manifest order (a drop then a rename reusing
    // the dropped name composes correctly only in order)
    val opsSuffix: Map[String, Seq[ManifestEntry]] = {
      var acc = List.empty[ManifestEntry]
      val m = Map.newBuilder[String, Seq[ManifestEntry]]
      entries.reverse.foreach {
        case r: RenameEntry => acc = r :: acc
        case x: DropEntry => acc = x :: acc
        case b: BatchEntry => m += b.batch -> acc
        case _ => ()
      }
      m.result()
    }
    val groups = batches
      .groupBy(b => (masks.getOrElse(b, Seq.empty)
        .map(m => (m.col, m.lo, m.hi)).sorted,
        opsSuffix.getOrElse(b, Seq.empty)))
      .toSeq.sortBy(_._2.head)
    val frames = groups.map { case ((ms, ops), bs) =>
      val raw = spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(bs.map(b => resolve(dir, b)): _*)
      val base = ops.foldLeft(raw)((df, op) => op match {
        case r: RenameEntry => df.withColumnRenamed(r.from, r.to)
        // dropColumn refuses while masks/deletes reference the column,
        // so dropping before the mask filter below can never orphan one
        case x: DropEntry => df.drop(x.colName)
        case _ => df
      })
      ms.foldLeft(base) { case (df, (c, lo, hi)) =>
        df.filter(col(c).isNull || not(col(c).between(lo, hi)))
      }
    }
    frames.reduce((a, b) => a.unionByName(b, allowMissingColumns = mergeSchema))
  }

  /** Anti-join `base` against every delete file a version's `entries`
    * carry, grouped per key column (one anti-join per distinct column,
    * however many delete commits accumulated). No-op when the version
    * carries no deletes — the common case pays nothing.
    */
  private def applyDeletes(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry], base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dels = entries.collect { case d: DeleteEntry => d }
    dels.groupBy(_.keyCol).toSeq.sortBy(_._1).foldLeft(base) { case (df, (c, es)) =>
      // delete files are single-column by construction (deleteRows writes
      // keys.select(keyCol)); bind by POSITION, not name — a later
      // renameColumn remaps the manifest's keyCol while each file on disk
      // keeps the physical name it was written under. Read PER FILE and
      // union: two delete commits straddling a rename carry DIFFERENT
      // physical names, and a single multi-path read would resolve one
      // era's keys to NULL (resurrecting its deleted rows).
      val keys = es.map(e => spark.read.parquet(resolve(dir, e.path)).toDF(c))
        .reduce(_ unionAll _)
      df.join(keys, Seq(c), "left_anti")
    }
  }

  /** Read the table at `version` (default: latest). `mergeSchema`
    * reconciles batches committed under EVOLVED schemas (a column added
    * by a later append): the merged schema is the union, and rows from
    * batches predating a column read it as null — additive evolution
    * without rewriting history, the same contract as Delta's
    * mergeSchema. Off by default: schema merging reads every batch's
    * footer up front, which a fixed-schema table shouldn't pay.
    */
  def read(spark: SparkSession, dir: String, version: Int = -1,
      mergeSchema: Boolean = false): DataFrame = {
    val v = if (version < 0) latestVersion(spark, dir) else version
    readEntries(spark, dir, entriesAt(spark, dir, v), mergeSchema)
  }

  /** The full read of one parsed manifest: every batch, masked, minus
    * the deleted keys.
    */
  private def readEntries(spark: SparkSession, dir: String,
      entries: Seq[ManifestEntry], mergeSchema: Boolean): DataFrame =
    applyDeletes(spark, dir, entries,
      readMasked(spark, dir,
        entries.collect { case b: BatchEntry => b.batch },
        entries, mergeSchema))

  /** Change-data feed between two versions: every row added or removed
    * going vFrom → vTo, tagged `insert` / `delete` (multiset semantics —
    * exceptAll — so duplicate rows diff by count). This is the
    * incremental-consumption path: a downstream job reads the delta
    * between the version it last saw and the current one instead of
    * re-scanning the table. Cost: one scan of each version + the
    * set-difference shuffles; with append-only commits the insert side
    * reduces to reading just the new batch directories.
    */
  def diff(spark: SparkSession, dir: String, vFrom: Int, vTo: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // read both sides schema-merged and align to the column UNION (a
    // version predating an evolved column contributes nulls) — without
    // this, a diff across an additive-evolution boundary either throws
    // on the exceptAll arity mismatch or silently drops the new column
    // depending on which file Spark sampled for the schema
    val from0 = read(spark, dir, vFrom, mergeSchema = true)
    val to0 = read(spark, dir, vTo, mergeSchema = true)
    val fields = (to0.schema ++ from0.schema.filterNot(f =>
      to0.schema.fieldNames.contains(f.name))).toSeq
    def align(df: DataFrame): DataFrame =
      df.select(fields.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    val from = align(from0)
    val to = align(to0)
    to.exceptAll(from).withColumn("change_type", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("change_type", lit("delete")))
  }

  /** Pluggable commit coordination: everything the optimistic protocol
    * needs from the storage layer is this ONE primitive — atomically
    * bind version `v` to a manifest body, returning false if the slot is
    * already taken. The default coordinator uses the filesystem itself
    * (hard-link / rename-without-overwrite); deployments on object
    * stores WITHOUT atomic create-if-absent (the Delta-on-S3 caveat)
    * inject an external coordinator (the DynamoDB-lock pattern) here
    * instead of silently degrading to best-effort — the limitation is
    * structural, not silent. Writers observe a lost slot identically
    * whichever coordinator decided it: publishIfAbsent → false →
    * rebase-and-retry.
    */
  trait CommitCoordinator {
    def publishIfAbsent(f: FileSystem, dir: String, v: Int,
        nonce: String, batches: Seq[String]): Boolean
  }

  @volatile var coordinator: CommitCoordinator = FilesystemCoordinator

  object FilesystemCoordinator extends CommitCoordinator {
    def publishIfAbsent(f: FileSystem, dir: String, v: Int,
        nonce: String, batches: Seq[String]): Boolean =
      publishViaFs(f, dir, v, nonce, batches)
  }

  /** Atomic publish-if-absent: write the manifest body to a
    * writer-unique temp name, then move it to `vNNNNN.json` with
    * create-if-absent semantics. Returns false (manifest untouched) if
    * another writer already owns the version. A reader either sees the
    * complete manifest or no version at all.
    *
    *  - local fs: POSIX hard-link — link(2) is atomic and fails with
    *    EEXIST when the destination exists. Rename is NOT a lock here:
    *    RawLocalFileSystem renames via File.renameTo, which silently
    *    overwrites an existing destination (ADVICE r6).
    *  - other stores: Hadoop rename, which the HDFS contract defines as
    *    failing when the destination exists. (S3-style stores without
    *    atomic create-if-absent degrade to best-effort — documented.)
    */
  private def publishViaFs(f: FileSystem, dir: String, v: Int,
      nonce: String, batches: Seq[String]): Boolean = {
    f.mkdirs(manifestDir(dir))
    val dest = manifestPath(dir, v)
    if (f.exists(dest)) return false
    val tmp = new Path(manifestDir(dir), f".v$v%05d-$nonce.tmp")
    val out = f.create(tmp, true)
    try out.write((batches.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    val won =
      if (isLocal(f)) {
        val destNio = java.nio.file.Paths.get(dest.toUri.getPath)
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        try { java.nio.file.Files.createLink(destNio, tmpNio); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // our tmp vanished: a concurrent winner's dead-tmp sweep (or an
          // admin cleanup) raced us — treat exactly like a lost publish
          // and let the caller rebase + retry with a fresh tmp
          case _: java.nio.file.NoSuchFileException => false
        }
      } else f.rename(tmp, dest)
    if (f.exists(tmp)) f.delete(tmp, false)
    if (won) sweepDeadTmps(f, dir, v)
    won
  }

  private def isLocal(f: FileSystem): Boolean = f match {
    case _: org.apache.hadoop.fs.LocalFileSystem => true
    case _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case _ => false
  }

  /** Delete leftover `.vNNNNN-*.tmp` files for versions STRICTLY below
    * the one just published — those are provably dead (their writer
    * either won long ago and failed to clean up, or lost and crashed
    * before its own cleanup). Same-version tmps are left alone: a LIVE
    * loser of the race we just won may be between its tmp write and its
    * link attempt, and deleting under it would turn its clean lost-race
    * retry into a NoSuchFileException (handled, but noisy). Best-effort,
    * runs once per successful commit.
    */
  private def sweepDeadTmps(f: FileSystem, dir: String, upto: Int): Unit =
    try {
      f.listStatus(manifestDir(dir)).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(".v") && n.endsWith(".tmp")) {
          val ver = n.stripPrefix(".v").takeWhile(_.isDigit)
          if (ver.nonEmpty && ver.toInt < upto) f.delete(s.getPath, false)
        }
      }
    } catch { case _: java.io.IOException => () }
}
