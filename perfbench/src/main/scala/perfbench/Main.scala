package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s.{JArray, JInt, JObject, JString, JValue}

import graft.SparkEntry

/** One benchmark run in one JVM:
  *
  *   --workload sql_adhoc|pipeline_batch|ingest_mixed --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR --out FILE
  *   [--sql FILE] [--ops a,b,c] [--mode run|dump]
  *
  * `run` writes one JSON record to --out: end-to-end metrics (untraced),
  * per-layer metrics (traced), result hashes of every distinct op, errors
  * and the run environment. perfbench/run.py drives it and compares the
  * hashes with the pinned ones. `dump` writes every distinct op's full
  * result as parquet under --out, for pinning against DuckDB.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val wl: Workload = a("workload") match {
      case "sql_adhoc" if a.contains("sql") =>
        val (tables, stmts) = SqlFile.read(a("sql"))
        new SqlAdhoc(a("data"), stmts, tables)
      case "sql_adhoc" => // probe: every Core oracle text, as the oracle map has it
        new SqlAdhoc(a("data"), graft.queries.Core.oracles.keys.toSeq.sorted
          .map(n => n -> SparkEntry.oracleSql(n)), SqlFile.tpchTables)
      case "pipeline_batch" => new PipelineBatch(a("data"), a("ops").split(",").toSeq)
      case "ingest_mixed" => new IngestMixed(a("data"), work)
      case other => sys.error(s"unknown workload $other")
    }
    a.getOrElse("mode", "run") match {
      case "run" => run(wl, a, cpus, work)
      case "dump" => dump(wl, a, cpus, work)
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def run(wl: Workload, a: Map[String, String], cpus: Int, work: String): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val off = new Tracer // never enabled: untraced windows
    val setupTracer = new Tracer

    // cold set-up: from JVM start until the first op can be submitted
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cpus, work)
    if (traced) setupTracer.enable(spark)
    wl.setup(spark, setupTracer)
    setupTracer.disable()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val firstRec = new Recorder(off)
    wl.first(firstRec)
    val firstResultS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    errors ++= firstRec.errors
    attempted += firstRec.attempted

    // untimed check pass: every distinct op once; also the warmup
    val checkRec = new Recorder(off)
    val checkT0 = System.nanoTime()
    val hashes = wl.checkPass(checkRec)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    errors ++= checkRec.errors
    attempted += checkRec.attempted

    // measured passes; a traced run makes at least four, untraced and
    // traced in ABBA order, so warm-up drift does not bias the overhead
    val passes = math.max(if (traced) 4 else 1, math.round(seconds / wl.secondsPerPass).toInt)
    val rng = new Random(seed)
    val passTracer = new Tracer
    val lat = mutable.ArrayBuffer.empty[Double]
    var wallTraced, wallUntraced = 0.0
    var opsTraced, opsUntraced = 0
    val passWalls = mutable.ArrayBuffer.empty[Double] // op time only: checks left out
    val probeBefore = Env.speedProbeMs(cpus)
    val cpu0 = Env.cpu()
    val window0 = System.nanoTime()
    val loadBefore = Env.loadavg()
    for (p <- 0 until passes) {
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      if (tracedPass) passTracer.enable(spark)
      val rec = new Recorder(if (tracedPass) passTracer else off)
      val t0 = System.nanoTime()
      wl.pass(rec, rng)
      val wall = (System.nanoTime() - t0) / 1e9 - rec.untimedS
      passWalls += wall
      passTracer.disable()
      if (tracedPass) { wallTraced += wall; opsTraced += rec.latencies.size }
      else { wallUntraced += wall; opsUntraced += rec.latencies.size; lat ++= rec.latencies }
      errors ++= rec.errors
      attempted += rec.attempted
    }
    val cpu1 = Env.cpu()
    val cpuWindowS = (System.nanoTime() - window0) / 1e9 // checks included, like the CPU times
    val probeAfter = Env.speedProbeMs(cpus)
    val liveHeapMb = Env.liveHeapMb()
    val windowS = wallTraced + wallUntraced
    stop(spark)

    val (tailPct, tail) = Stats.tail(lat.toSeq)
    val endToEnd = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "first_result_s" -> firstResultS,
      "throughput_ops_s" -> opsUntraced / wallUntraced,
      "latency_ms.p50" -> Stats.median(lat.toSeq),
      "latency_ms.tail" -> tail,
      "latency_ms.tail_pct" -> tailPct,
      "latency_ms.n" -> lat.size.toDouble,
      "error_rate" -> errors.size.toDouble / math.max(1, attempted),
      "heap_live_mb" -> liveHeapMb,
      "rss_peak_mb" -> Env.rssPeakMb()) ++ wl.endToEnd

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val ops = math.max(1, opsTraced)
      val t = passTracer
      layers ++= Layers.zero
      Layers.perOpCounters.foreach(k => layers(k) = t.counters(k) / ops)
      layers("sched.driver_gap_ms") = t.driverGapMs() / ops
      layers("materialize.sweep_ms") = t.total("materialize.sweep") / ops
      t.selfTimes().foreach { case (layer, ms) => layers(s"self_ms.$layer") = ms / ops }
      layers("unattributed_ms") = layers.getOrElse("self_ms.unattributed", 0.0)
      layers("catalog.register_ms") = setupTracer.total("catalog")
      layers("catalog.register_jobs") = setupTracer.jobsUnder("catalog").toDouble
      layers ++= wl.layerMetrics(t, ops)
      layers("trace.throughput_ops_s") = opsTraced / wallTraced
      layers("trace.untraced_ops_s") = opsUntraced / wallUntraced
      layers("trace.overhead_ops_s") = opsTraced / wallTraced - opsUntraced / wallUntraced
      layers("trace.ops") = opsTraced.toDouble
      val w = Files.newBufferedWriter(Paths.get(a("out") + ".spans.jsonl"))
      try t.dump(w) finally w.close()
    }

    val env = Env.describe(cpus, seed, passes, windowS, cpuWindowS, cpu0, cpu1) ++ List(
      "check_s" -> Json.num(checkS), "pass_s" -> JArray(passWalls.map(Json.num).toList),
      "speed_probe_ms" -> JArray(List(Json.num(probeBefore), Json.num(probeAfter))),
      "loadavg_before" -> JString(loadBefore), "loadavg_after" -> JString(Env.loadavg()))
    val record = JObject(
      "attempted" -> JInt(attempted),
      "failed" -> JInt(errors.size),
      "errors" -> Json.strs(errors),
      "hashes" -> JObject(hashes.toList.sorted.map { case (k, h) => k -> JString(h) }),
      "end_to_end" -> Json.nums(endToEnd),
      "per_layer" -> Json.nums(layers),
      "env" -> JObject(env))
    Files.writeString(Paths.get(a("out")), Json.write(record) + "\n")
  }

  /** Write every distinct op's full result as parquet under --out, and
    * dump.json with each op's oracle SQL and result hash (or error). */
  private def dump(wl: Workload, a: Map[String, String], cpus: Int, work: String): Unit = {
    val spark = session(cpus, work)
    wl.setup(spark, new Tracer)
    val rows = wl match {
      case w: Dumpable => w.dump(a("out"))
      case _ => sys.error("this workload has no dump")
    }
    val json = JObject(rows.toList.map { case (name, sql, res) =>
      name -> JObject("sql" -> JString(sql), res match {
        case Right(h) => "hash" -> JString(h)
        case Left(e) => "error" -> JString(e)
      })
    })
    Files.writeString(Paths.get(a("out"), "dump.json"), Json.write(json) + "\n")
    stop(spark)
  }
}

/** A workload whose distinct ops can be written out for pinning: returns
  * (op name, oracle SQL, Right(result hash) or Left(error)) per op. */
trait Dumpable {
  def dump(dir: String): Seq[(String, String, Either[String, String])]
}

/** Per-layer metric names, all reported per traced op. */
object Layers {
  val perOpCounters: Seq[String] = Seq(
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "plan.exchanges", "plan.sorts", "plan.nested_loop_joins",
    "codegen.compiles", "codegen.compile_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_delay_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "io.read_bytes", "io.write_bytes")

  /** Layers a workload does not exercise report 0. */
  val zero: Seq[(String, Double)] = (perOpCounters ++ Seq(
    "catalog.register_ms", "catalog.register_jobs", "sqlapi.sql_ms",
    "build.ms", "build.jobs", "materialize.staged_bytes", "materialize.sweep_ms",
    "sched.driver_gap_ms", "snap.batches_live", "snap.point_batches_read",
    "snap.optimize_ms", "snap.replays_skipped", "snap.table_bytes",
    "format.render_ms", "format.rows", "unattributed_ms")).map(_ -> 0.0)
}

/** The sql_adhoc statement file: {"tables": [...], "statements": {name: sql}}. */
object SqlFile {
  val tpchTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def read(path: String): (Seq[String], Seq[(String, String)]) = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    val tables = (j \ "tables") match { case JArray(xs) => xs.collect { case JString(s) => s }; case _ => Nil }
    val stmts = (j \ "statements") match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }
      case _ => Nil
    }
    (tables, stmts.sortBy(_._1))
  }
}

/** The run environment recorded with every result. */
object Env {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Exception => "" }

  /** (own process CPU seconds, machine busy CPU seconds). Busy is
    * user+nice+system+irq+softirq+steal from /proc/stat, USER_HZ = 100. */
  def cpu(): (Double, Double) = {
    val busy = try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toDouble)
      (f(0) + f(1) + f(2) + f.lift(5).getOrElse(0.0) + f.lift(6).getOrElse(0.0) +
        f.lift(7).getOrElse(0.0)) / 100.0
    } catch { case _: Exception => Double.NaN }
    val own = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    (own, busy)
  }

  /** Heap in use right after a full collection, in MB: what the program
    * keeps reachable after its ops. What the ops leave behind is freed in
    * steps: a collection clears the weak references of dead frames,
    * Spark's ContextCleaner then drops the broadcasts and shuffles they
    * tracked, and a later collection frees those. How many collections
    * that takes varies from run to run (on pipeline_batch some 20 MB of
    * long[] outlived two of them in a third of the runs), so collections
    * repeat, 300 ms apart, until two in a row read within 0.5 MB of each
    * other: at least four, at most twelve. */
  def liveHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collected()
    var cur = prev
    var n = 1
    while (n < 4 || (math.abs(prev - cur) > 0.5 && n < 12)) {
      Thread.sleep(300)
      prev = cur
      cur = collected()
      n += 1
    }
    cur
  }

  /** Milliseconds a fixed integer loop takes on each of `threads`
    * threads at once: the machine's speed at the time, so a slow run
    * shows as one. */
  def speedProbeMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => {
        var x = k.toLong
        var i = 0
        while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println(x) // keeps the loop from being optimised away
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** VmHWM of this process, in MB. */
  def rssPeakMb(): Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => Double.NaN }

  def describe(cpus: Int, seed: Long, passes: Int, windowS: Double, cpuWindowS: Double,
      cpu0: (Double, Double), cpu1: (Double, Double)): List[(String, JValue)] = {
    val foreign = ((cpu1._2 - cpu0._2) - (cpu1._1 - cpu0._1)) / cpuWindowS
    List(
      "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
      "task_slots" -> JInt(cpus),
      "seed" -> JInt(seed),
      "passes" -> JInt(passes),
      "window_s" -> Json.num(windowS),
      "own_cores_busy" -> Json.num((cpu1._1 - cpu0._1) / cpuWindowS),
      "foreign_cores_busy" -> Json.num(math.max(0.0, foreign)),
      "jvm_flags" -> Json.strs(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens"))),
      "java_version" -> JString(System.getProperty("java.version")),
      "spark_version" -> JString(org.apache.spark.SPARK_VERSION))
  }
}
