package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{JInt, JObject, JString}

/** One timed call into a layer. `op` is the closed-loop operation the
  * span belongs to (-1 outside any op), `parent` the span that caused
  * it (-1 for an op's root span). Times are milliseconds on one clock
  * shared with the Spark listener's event times.
  */
final case class Span(id: Int, op: Int, parent: Int, layer: String,
    startMs: Double, var endMs: Double = Double.NaN)

/** A Spark job, linked to the op and span that submitted it through
  * the local properties [[Tracer]] sets before each call. */
final case class JobRec(op: Int, span: Int, startMs: Double, var endMs: Double = Double.NaN)

/** Spans around the benchmark's calls into each module, plus counters
  * from Spark's public listener APIs. Everything stays in memory until
  * the run ends. A disabled tracer runs each body bare: no listener is
  * attached and no span is recorded, so untraced windows measure the
  * program alone.
  */
final class Tracer {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private var stack: List[Span] = Nil
  private var nextOp = 0

  /** Counters. Listener callbacks arrive on Spark's listener-bus thread,
    * so every update goes through `synchronized`. */
  val counters = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = synchronized { counters(name) += v }

  private var on = false
  private var sc: SparkContext = _
  private var session: SparkSession = _

  def enabled: Boolean = on

  private var codegen0 = (0L, 0L)

  /** Attach the listeners to `spark` and start recording. */
  def enable(spark: SparkSession): Unit = if (!on) {
    on = true
    session = spark
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** Stop recording and detach, after the listener bus has drained. */
  def disable(): Unit = if (on) {
    drain()
    add("codegen.compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1)
    add("codegen.compile_ms", (CodeGenerator.compileTime - codegen0._2) / 1e6)
    session.listenerManager.unregister(planListener)
    sc.removeSparkListener(jobListener)
    on = false
  }

  /** The listener bus is asynchronous; wait until every started job has
    * ended and no event has arrived for a short quiet period. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var quietSince = System.nanoTime()
    var seen = -1.0
    while (System.nanoTime() < deadline &&
        (System.nanoTime() - quietSince < 300_000_000L || openJobs > 0)) {
      val n = synchronized(counters("events"))
      if (n != seen) { seen = n; quietSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }
  private def openJobs: Int = synchronized(jobs.values.count(_.endMs.isNaN))

  /** Run `body` as a new op's root span (layer "op"). */
  def op[T](body: => T): T = if (!on) body else {
    val id = nextOp; nextOp += 1
    sc.setLocalProperty("perfbench.op", id.toString)
    try timed("op", id)(body)
    finally sc.setLocalProperty("perfbench.op", null)
  }

  /** Run `body` as a child span of the innermost open span. */
  def span[T](layer: String)(body: => T): T =
    if (!on) body else timed(layer, stack.headOption.map(_.op).getOrElse(-1))(body)

  private def timed[T](layer: String, opId: Int)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, opId, stack.headOption.map(_.id).getOrElse(-1), layer, nowMs)
      spans += s
      s
    }
    stack = s :: stack
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.id.toString).orNull)
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      counters("events") += 1
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(prop("perfbench.op"), prop("perfbench.span"), e.time.toDouble)
      counters("sched.jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      counters("events") += 1
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counters("events") += 1
      counters("sched.stages") += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      counters("events") += 1
      counters("sched.tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val run = m.executorRunTime.toDouble
        val delay = info.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        counters("sched.task_delay_ms") += math.max(0.0, delay.toDouble)
        counters("exec.run_ms") += run
        counters("exec.cpu_ms") += m.executorCpuTime / 1e6
        counters("exec.gc_ms") += m.jvmGCTime
        counters("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        counters("spill.bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counters("io.read_bytes") += m.inputMetrics.bytesRead
        counters("io.write_bytes") += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val (exchanges, sorts, nlj) = PlanShape.count(qe.executedPlan)
      Tracer.this.synchronized {
        counters("plan.analysis_ms") += phase(QueryPlanningTracker.ANALYSIS)
        counters("plan.optimization_ms") += phase(QueryPlanningTracker.OPTIMIZATION)
        counters("plan.planning_ms") += phase(QueryPlanningTracker.PLANNING)
        counters("plan.exchanges") += exchanges
        counters("plan.sorts") += sorts
        counters("plan.nested_loop_joins") += nlj
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Sum of `layer` span durations. */
  def total(layer: String): Double =
    spans.iterator.filter(_.layer == layer).map(s => s.endMs - s.startMs).sum

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans and the jobs it submitted cover. Jobs are leaves
    * reported as layer "job". The op root's self time is the op wall
    * time no span covers, reported as "unattributed".
    */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.values.filter(!_.endMs.isNaN).groupBy(_.span)
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
      val covered = Tracer.unionWithin(kids.toSeq, s.startMs, s.endMs)
      val layer = if (s.layer == "op") "unattributed" else s.layer
      out(layer) += (s.endMs - s.startMs) - covered
    }
    jobsBySpan.foreach { case (_, js) =>
      out("job") += Tracer.unionWithin(js.map(j => (j.startMs, j.endMs)).toSeq,
        Double.MinValue, Double.MaxValue)
    }
    out.toMap
  }

  /** Per op: op wall time during which no job of that op was running. */
  def driverGapMs(): Double = {
    val jobsByOp = jobs.values.filter(!_.endMs.isNaN).groupBy(_.op)
    spans.iterator.filter(_.layer == "op").map { s =>
      val js = jobsByOp.getOrElse(s.op, Nil).map(j => (j.startMs, j.endMs)).toSeq
      (s.endMs - s.startMs) - Tracer.unionWithin(js, s.startMs, s.endMs)
    }.sum
  }

  /** Jobs submitted under spans of `layer` (directly or below them). */
  def jobsUnder(layer: String): Int = {
    val byId = spans.map(s => s.id -> s).toMap
    def inLayer(id: Int): Boolean = id >= 0 && byId.get(id).exists { s =>
      s.layer == layer || inLayer(s.parent)
    }
    jobs.values.count(j => inLayer(j.span))
  }

  /** Spans and jobs as JSON lines, for the trace file. */
  def dump(out: java.io.Writer): Unit = {
    def line(kind: String, id: Int, op: Int, parent: Int, layer: String, start: Double,
        end: Double): Unit =
      out.write(Json.write(JObject(kind -> JInt(id), "op" -> JInt(op), "parent" -> JInt(parent),
        "layer" -> JString(layer), "start_ms" -> Json.num(start), "end_ms" -> Json.num(end))) + "\n")
    spans.foreach(s => line("span", s.id, s.op, s.parent, s.layer, s.startMs, s.endMs))
    jobs.foreach { case (id, j) => line("job", id, j.op, j.span, "job", j.startMs, j.endMs) }
  }
}

object Tracer {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionWithin(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

/** Exchange, sort and nested-loop-join counts of an executed plan,
  * looking inside adaptive query stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(p => p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[SortExec]),
      nodes.count(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        p.isInstanceOf[CartesianProductExec]))
  }
}
