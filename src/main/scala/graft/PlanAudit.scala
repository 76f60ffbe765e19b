package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window => LWindow}

/** OPTIMIZATION-ROUND DIAGNOSTIC (r16, guide §1/§2.4): for every declared
  * query, walk the OPTIMIZED logical plan and report duplicated expensive
  * subtrees — identical canonicalized subtrees containing a Join/Aggregate/
  * Window/Generate that appear ≥2 times in one plan. Spark performs no
  * cross-branch common-subexpression elimination of logical subtrees
  * (ReuseExchange only dedupes identical physical exchange stages within
  * one executed plan, and nothing is shared across the separate actions a
  * query's driver loop issues), so every such duplicate is work the query
  * may pay twice. The tool prints one line per (query, maximal duplicated
  * subtree): occurrence count, node count, operator census, and the root's
  * simpleString — the measure-first census that decides where staging
  * (Materialize.stage) is worth its checkpoint write.
  *
  * Diagnostic only (`graft.tools.Diag audit`) — not part of the driver
  * contract; never run by Bench/Verify.
  */
object PlanAudit {

  private def expensive(p: LogicalPlan): Boolean = p.collectFirst {
    case _: Join => (); case _: Aggregate => ()
    case _: LWindow => (); case _: Generate => ()
  }.isDefined

  /** One `[audit]` line per maximal duplicated expensive subtree of
    * `plan` (the three largest), or one `clean` line. */
  def report(name: String, plan: LogicalPlan): Seq[String] = {
    val counts = scala.collection.mutable.HashMap
      .empty[LogicalPlan, (Int, LogicalPlan)]
    plan.foreach { node =>
      val k = node.canonicalized
      val (c, rep) = counts.getOrElse(k, (0, node))
      counts(k) = (c + 1, rep)
    }
    // maximal duplicated expensive subtrees: drop any duplicate whose
    // representative is a strict descendant of another duplicate with
    // the same occurrence count (those are just the parent's children)
    val dups = counts.values.toSeq
      .filter { case (c, rep) => c >= 2 && expensive(rep) }
    val maximal = dups.filterNot { case (c, rep) =>
      dups.exists { case (c2, rep2) =>
        (rep2 ne rep) && c2 >= c && rep2.exists(_ eq rep)
      }
    }
    if (maximal.isEmpty) Seq(s"[audit] $name clean")
    else maximal.sortBy { case (_, rep) => -rep.collect { case x => x }.size }
      .take(3).map { case (c, rep) =>
        val size = rep.collect { case x => x }.size
        val joins = rep.collect { case j: Join => j }.size
        val aggs = rep.collect { case a: Aggregate => a }.size
        val gens = rep.collect { case g: Generate => g }.size
        val wins = rep.collect { case w: LWindow => w }.size
        s"[audit] $name x$c nodes=$size joins=$joins aggs=$aggs " +
          s"gen=$gens win=$wins root=${rep.simpleString(60).take(140)}"
      }
  }
}
