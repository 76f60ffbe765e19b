package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{PlanAudit, SparkEntry}
import graft.engine.{MvAdvisor, Sessions, WorkloadCse}

/** Diagnostic main over the `SparkEntry.queries` entries, on a
  * [[graft.engine.Sessions]] session (so plans match Bench and Verify).
  *
  * Usage: `runMain graft.tools.Diag <command> <sfDir> [name ...]`
  * (no names: every query), where `<command>` is one of
  *  - `explain [--out dir]` — `explain formatted` per query, printed, or
  *    written to `<dir>/<name>.txt`;
  *  - `audit` — duplicated expensive subtrees per optimized plan
  *    ([[graft.PlanAudit]]);
  *  - `cse` — subplans shared across the queries
  *    ([[graft.engine.WorkloadCse]]);
  *  - `mv` — materialized-view candidates ([[graft.engine.MvAdvisor]]).
  */
object Diag {

  private val Commands = Set("explain", "audit", "cse", "mv")

  def main(args: Array[String]): Unit = {
    val (cmd, out, rest) = args.toList match {
      case "explain" :: "--out" :: dir :: rest => ("explain", Some(dir), rest)
      case cmd :: rest => (cmd, None, rest)
      case Nil => ("", None, Nil)
    }
    if (!Commands(cmd) || rest.isEmpty) {
      System.err.println(
        "usage: Diag explain [--out dir] | audit | cse | mv  <sfDir> [name ...]")
      sys.exit(2)
    }
    val sfDir = rest.head
    val names = if (rest.tail.nonEmpty) rest.tail else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.create()
    spark.sparkContext.setLogLevel("ERROR")
    def build(name: String) = SparkEntry.queries(name)(spark, sfDir)
    def each(tag: String)(f: String => Unit): Unit = names.foreach { n =>
      try f(n)
      catch { case e: Throwable => println(s"[$tag] $n ERROR ${e.getMessage}") }
    }
    cmd match {
      case "explain" =>
        out.foreach(d => Files.createDirectories(Paths.get(d)))
        each("explain") { n =>
          val txt = build(n).queryExecution.explainString(FormattedMode)
          out match {
            case Some(d) =>
              Files.writeString(Paths.get(d, s"$n.txt"), txt)
              println(s"[explain] $n ok")
            case None => println(s"\n========== $n ==========\n$txt")
          }
        }
      case "audit" =>
        each("audit")(n => PlanAudit.report(n, build(n).queryExecution.optimizedPlan).foreach(println))
      case "cse" =>
        WorkloadCse.report(names.map(n => n -> build(n)).toMap, minNodes = 3, minQueries = 2)
          .take(20).foreach { case (fp, queries, n, savings) =>
            println(s"[cse] $fp nodes=$n savings=$savings queries=${queries.mkString(",")}")
          }
      case "mv" =>
        MvAdvisor.advise(names.map(n => n -> build(n)).toMap).foreach { c =>
          println(s"[mv-advisor] base=${c.base} dims=${c.dims.mkString(",")} " +
            s"aggs=${c.aggs.mkString(";")} queries=${c.queries.mkString(",")}")
        }
    }
    spark.stop()
  }
}
