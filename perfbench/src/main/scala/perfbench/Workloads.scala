package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.engine.{Materialize, Snapshots}
import graft.format.Formatters
import graft.sqlapi.QueryEngine

/** Collects one window's timed ops and the errors found while checking
  * their outputs. Checks run inside `untimed`, whose time the window's
  * throughput leaves out. Spans go to `tracer`, which is disabled in
  * untraced windows. */
final class Recorder(val tracer: Tracer) {
  val latencies = mutable.ArrayBuffer.empty[Double] // ms
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  private var untimedNs = 0L

  /** Seconds spent in `untimed` bodies. */
  def untimedS: Double = untimedNs / 1e9

  /** Run benchmark-side work (output checks, trace-only queries) that is
    * not part of any op. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Time one op. A throwing op counts as attempted and failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.op(body)
      latencies += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch { case e: Exception =>
      errors += s"$kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what
}

/** A closed loop with one client. Per run: `setup` once on a fresh
  * session, `first` once (cold), `checkPass` once before timing, then
  * `pass` a fixed number of times. */
trait Workload {
  /** A run makes round(seconds / secondsPerPass) passes, so every run of
    * a given length does the same work and reports over the same number
    * of samples. A share of the run's seconds, set with the benchmark
    * so that a whole run fits its time: ingest_mixed makes one long
    * pass. */
  def secondsPerPass: Double
  def setup(spark: SparkSession, t: Tracer): Unit
  def first(rec: Recorder): Unit
  /** Run every distinct op once, untimed and untraced; returns each
    * op's result hash for comparison with the pinned one. */
  def checkPass(rec: Recorder): Map[String, String]
  def pass(rec: Recorder, rng: Random): Unit
  /** Per-layer metrics only this workload's layers produce. */
  def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = Map.empty
  /** End-to-end metrics only this workload produces. */
  def endToEnd: Map[String, Double] = Map.empty
}

/** The paper's own use case: a user typing relational SQL. Tables are
  * registered through the REPL's LOAD TABLE path (Catalog.registerParquet),
  * each statement runs through QueryEngine.sql and is rendered with
  * Formatters.markdown. */
final class SqlAdhoc(data: String, stmts: Seq[(String, String)], tables: Seq[String])
    extends Workload with Dumpable {
  val secondsPerPass = 5.0
  private var engine: QueryEngine = _
  private val rendered = mutable.HashMap.empty[String, String]
  private val text = stmts.toMap
  private val firstName =
    if (text.contains("q3_top_revenue")) "q3_top_revenue" else stmts.head._1

  def setup(spark: SparkSession, t: Tracer): Unit = {
    engine = new QueryEngine(spark)
    tables.foreach { tb =>
      t.span("catalog")(engine.catalog.registerParquet(tb, s"$data/$tb.parquet"))
    }
  }

  private def run(t: Tracer, name: String): String = {
    val df = t.span("sqlapi")(engine.sql(text(name)))
    t.span("format")(Formatters.markdown(df))
  }

  private def timed(rec: Recorder, name: String): Unit =
    rec.op("sql")(run(rec.tracer, name)).foreach { md =>
      rec.untimed {
        rendered.get(name).foreach { ref =>
          rec.check(md == ref, s"$name: rendered result differs from its checked run")
        }
        rec.tracer.add("format.rows", md.count(_ == '\n') - 2)
      }
    }

  def first(rec: Recorder): Unit = timed(rec, firstName)

  def checkPass(rec: Recorder): Map[String, String] = stmts.map { case (name, sql) =>
    rendered(name) = run(rec.tracer, name)
    name -> Canon.hash(engine.sql(sql))
  }.toMap

  def pass(rec: Recorder, rng: Random): Unit =
    rng.shuffle(stmts.map(_._1)).foreach(timed(rec, _))

  def dump(dir: String): Seq[(String, String, Either[String, String])] = stmts.map {
    case (name, sql) => (name, sql, Dump.write(engine.sql(sql), s"$dir/$name"))
  }

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = Map(
    "sqlapi.sql_ms" -> t.total("sqlapi") / ops,
    "format.render_ms" -> t.total("format") / ops,
    "format.rows" -> t.counters("format.rows") / ops)
}

/** The library user calling LLM-data operators: each call builds the
  * operator's DataFrame through SparkEntry.queries (eager staging jobs
  * run here), forces it with a noop write as Bench does, and sweeps
  * staged frames between calls. The sweep is outside the op's latency
  * but inside the window's throughput: the user's loop pays for it. */
final class PipelineBatch(data: String, names: Seq[String]) extends Workload with Dumpable {
  val secondsPerPass = 5.0
  private var spark: SparkSession = _

  def setup(s: SparkSession, t: Tracer): Unit = {
    spark = s
    graft.plans.GraftExtensions.register(s)
  }

  private def timed(rec: Recorder, name: String): Unit = {
    val t = rec.tracer
    rec.op("operator") {
      val df = t.span("build")(SparkEntry.queries(name)(spark, data))
      t.span("execute")(df.write.format("noop").mode("overwrite").save())
    }
    // the frames the build staged stay cached until the sweep
    if (t.enabled) rec.untimed(t.add("materialize.staged_bytes",
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble))
    t.span("materialize.sweep")(Materialize.sweep(spark))
  }

  def first(rec: Recorder): Unit = timed(rec, names.head)

  def checkPass(rec: Recorder): Map[String, String] = names.map { name =>
    val h = Canon.hash(SparkEntry.queries(name)(spark, data))
    Materialize.sweep(spark)
    name -> h
  }.toMap

  def pass(rec: Recorder, rng: Random): Unit =
    rng.shuffle(names).foreach(timed(rec, _))

  def dump(dir: String): Seq[(String, String, Either[String, String])] = names.map { name =>
    val r = Dump.write(SparkEntry.queries(name)(spark, data), s"$dir/$name")
    Materialize.sweep(spark)
    (name, SparkEntry.oracleSql.getOrElse(name, ""), r)
  }

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = Map(
    "build.ms" -> t.total("build") / ops,
    "build.jobs" -> t.jobsUnder("build").toDouble / ops,
    "materialize.staged_bytes" -> t.counters("materialize.staged_bytes") / ops)
}

/** Writes beside reads on the snapshot store. A pass commits seeded
  * micro-batches of lineitem rows (sorted by l_orderkey, so each batch
  * covers a key range) to a fresh table with Snapshots.commitWithTxn,
  * follows each commit with a point and a range lookup, replays an
  * already-committed batch id every `replayEvery` steps (which must
  * return None) and compacts with Snapshots.optimize every
  * `optimizeEvery` commits. Every read is checked against the acked
  * batches, and the table is read back from disk at the end of a pass.
  *
  * The mix is chosen, not measured: no caller in the repo fixes a
  * batch size or a commit:read:optimize cadence. It stands for one
  * stream appending small batches while a reader polls the fresh data
  * after every commit, with rare restarts (replays) and periodic
  * compaction. The point lookup asks for `pointKeys` keys, as
  * Formats.bloomSkipping's needle lookup does.
  */
final class IngestMixed(data: String, work: String) extends Workload {
  val secondsPerPass = 12.0
  val steps = 24
  val batchRows = (400, 600)
  val pointKeys = 3
  val rangeKeys = 50
  val replayEvery = 4
  val optimizeEvery = 8
  private val appId = "perfbench"
  private var spark: SparkSession = _
  private var rows: Array[Row] = _
  private var schema: StructType = _
  private var keyIdx, qtyIdx = 0
  private var passNo = 0
  private val spaceAmp = mutable.ArrayBuffer.empty[Double]
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]

  def setup(s: SparkSession, t: Tracer): Unit = {
    spark = s
    val src = s.read.parquet(s"$data/lineitem.parquet")
    rows = src.orderBy("l_orderkey", "l_linenumber").collect()
    schema = src.schema
    keyIdx = schema.fieldIndex("l_orderkey")
    qtyIdx = schema.fieldIndex("l_quantity")
  }

  private def frame(lo: Int, hi: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.slice(lo, hi): _*), schema)

  /** (row count, l_quantity sum) of rows [lo, hi) whose key passes `keep`. */
  private def expected(lo: Int, hi: Int, keep: Long => Boolean): (Long, Double) = {
    var n = 0L
    var q = 0.0
    var i = lo
    while (i < hi) {
      if (keep(rows(i).getLong(keyIdx))) { n += 1; q += rows(i).getDouble(qtyIdx) }
      i += 1
    }
    (n, q)
  }

  private def same(a: (Long, Double), b: (Long, Double)): Boolean =
    a._1 == b._1 && math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2))

  private def summary(rs: Array[Row]): (Long, Double) =
    (rs.length.toLong, rs.map(_.getDouble(qtyIdx)).sum)

  /** One pass on a fresh table; `steps` = 1 commits a single batch. */
  private def runPass(rec: Recorder, rng: Random, steps: Int, measured: Boolean): Unit = {
    val t = rec.tracer
    val dir = s"$work/ingest/pass-$passNo"
    passNo += 1
    val sizes = Seq.fill(steps)(batchRows._1 + rng.nextInt(batchRows._2 - batchRows._1 + 1))
    val start = rng.nextInt(rows.length - sizes.sum)
    val bounds = sizes.scanLeft(start)(_ + _) // batch i is rows [bounds(i), bounds(i + 1))
    def commit(i: Int) = Snapshots.commitWithTxn(frame(bounds(i), bounds(i + 1)), dir, appId,
      i, Some("l_orderkey"))
    def ackedKey(acked: Int) = rows(start + rng.nextInt(acked - start)).getLong(keyIdx)
    def read(kind: String, what: String, keep: Long => Boolean, acked: Int)(
        df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      rec.op(kind) {
        val d = t.span("snap")(df)
        t.span("execute")(d.collect())
      }.foreach { rs =>
        if (measured) readMs += (System.nanoTime() - t0) / 1e6
        rec.untimed(rec.check(same(summary(rs), expected(start, acked, keep)),
          s"$kind $what on pass $passNo: rows differ from the acked batches"))
      }
    }
    var replays, skipped = 0
    for (i <- 0 until steps) {
      val t0 = System.nanoTime()
      rec.op("commit") {
        val v = t.span("snap")(commit(i))
        if (i > 0 && i % optimizeEvery == 0)
          t.span("snap.optimize")(Snapshots.optimize(spark, dir, Some("l_orderkey")))
        v
      }.foreach { v =>
        if (measured) commitMs += (System.nanoTime() - t0) / 1e6
        rec.check(v.isDefined, s"commit of batch $i on pass $passNo returned None")
      }
      val acked = bounds(i + 1)
      if (steps > 1) {
        val keys = Seq.fill(pointKeys)(ackedKey(acked)).distinct
        read("read_point", s"$keys", keys.contains, acked)(
          Snapshots.readPoint(spark, dir, "l_orderkey", keys))
        if (t.enabled) rec.untimed {
          t.add("snap.point_batches_read", Snapshots.pointBatches(spark, dir, "l_orderkey", keys).size)
          t.add("snap.batches_live", Snapshots.pointBatches(spark, dir, "", Nil).size)
          t.add("snap.point_reads", 1)
        }
        val lo = ackedKey(acked)
        val hi = lo + rangeKeys
        read("read_range", s"[$lo, $hi]", k => k >= lo && k <= hi, acked)(
          Snapshots.readPruned(spark, dir, "l_orderkey", lo, hi))
        if (i > 0 && i % replayEvery == 0) {
          val j = rng.nextInt(i)
          replays += 1
          rec.op("replay")(t.span("snap")(commit(j))).foreach { v =>
            if (v.isEmpty) skipped += 1
            rec.check(v.isEmpty, s"replay of batch $j on pass $passNo was committed again")
          }
        }
      }
    }
    rec.untimed {
      val back = Snapshots.read(spark, dir).agg(count(lit(1)), sum("l_quantity")).head()
      rec.check(same((back.getLong(0), back.getDouble(1)), expected(start, bounds.last, _ => true)),
        s"table read back on pass $passNo: count or l_quantity sum differs from the acked batches")
      if (measured) {
        val plain = s"$dir-plain"
        frame(start, bounds.last).coalesce(1).write.parquet(plain)
        val tableBytes = Canon.duBytes(dir)
        spaceAmp += tableBytes.toDouble / Canon.duBytes(plain)
        Canon.rmTree(plain)
        if (t.enabled) {
          t.add("snap.table_bytes", tableBytes.toDouble)
          t.add("snap.passes", 1)
          t.add("snap.replays", replays)
          t.add("snap.replays_skipped", skipped)
        }
      }
      Canon.rmTree(dir)
    }
  }

  def first(rec: Recorder): Unit = runPass(rec, new Random(0), steps = 1, measured = false)

  def checkPass(rec: Recorder): Map[String, String] = {
    runPass(rec, new Random(1), optimizeEvery + 1, measured = false)
    Map.empty
  }

  def pass(rec: Recorder, rng: Random): Unit = runPass(rec, rng, steps, measured = true)

  override def endToEnd: Map[String, Double] =
    Stats.summary("commit_ms", commitMs.toSeq) ++ Stats.summary("read_ms", readMs.toSeq) ++
      Map("space_amp" -> Stats.median(spaceAmp.toSeq))

  override def layerMetrics(t: Tracer, ops: Int): Map[String, Double] = {
    val reads = math.max(1.0, t.counters("snap.point_reads"))
    val passes = math.max(1.0, t.counters("snap.passes"))
    Map(
      "snap.batches_live" -> t.counters("snap.batches_live") / reads,
      "snap.point_batches_read" -> t.counters("snap.point_batches_read") / reads,
      "snap.optimize_ms" -> t.total("snap.optimize") / passes,
      "snap.replays_skipped" -> t.counters("snap.replays_skipped") /
        math.max(1.0, t.counters("snap.replays")),
      "snap.table_bytes" -> t.counters("snap.table_bytes") / passes)
  }
}

object Dump {
  /** Write `df` as one parquet file under `path`; its hash or the error. */
  def write(df: => DataFrame, path: String): Either[String, String] =
    try {
      val d = df
      d.coalesce(1).write.mode("overwrite").parquet(path)
      Right(Canon.hash(d))
    } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
}
