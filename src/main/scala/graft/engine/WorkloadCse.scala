package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Workload-level common-subexpression analysis — the first half of the
  * SparkCruise idea (VLDB 2021: mine a workload's repeated subplans,
  * then materialize the best ones): given a set of named query frames,
  * fingerprint every analyzed logical subtree via Catalyst's
  * CANONICALIZED plan (expression ids and aliases normalized, so the
  * same pipeline built twice by different code paths fingerprints
  * identically) and report subplans shared across queries, ranked by
  * `nodes × (occurrences − 1)` — an honest proxy for the work a
  * once-per-workload materialization would save.
  *
  * This is an ADVISOR, not an optimizer pass: the repo's hot shared
  * pipelines (the jaccard pair graph under the cluster family, the
  * banded signature table under the similarity family) are already
  * hand-staged via [[Materialize]] where measurement justified it; the
  * report is how those candidates get FOUND when the workload is 300
  * queries instead of 3. Pure metadata plane — plans only, nothing is
  * executed; cost is O(total plan nodes) per workload.
  */
object WorkloadCse {

  /** (fingerprint, subtree node count) for every subtree of `df`'s
    * analyzed plan with at least `minNodes` operators. Fingerprints are
    * md5 of the canonicalized subtree, so equality means Catalyst-level
    * plan identity (same sources, same operators, same expressions up
    * to id renaming) — the `sameResult` contract, precomputed as a hash
    * join key.
    */
  def subtreeFingerprints(df: DataFrame, minNodes: Int): Seq[(String, Int)] = {
    def nodes(p: LogicalPlan): Int = 1 + p.children.map(nodes).sum
    df.queryExecution.analyzed.collect {
      case p if nodes(p) >= minNodes =>
        val canon = p.canonicalized.toString
        (java.security.MessageDigest.getInstance("MD5")
          .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString,
          nodes(p))
    }
  }

  /** Cross-query report: one row per subplan fingerprint appearing in
    * ≥ `minQueries` distinct queries, with the sharing queries, the
    * subtree size, and the savings proxy. Sorted by savings.
    */
  def report(frames: Map[String, DataFrame], minNodes: Int,
      minQueries: Int): Seq[(String, Seq[String], Int, Int)] = {
    val perQuery = frames.toSeq.flatMap { case (name, df) =>
      // a fingerprint counts once per query however often it recurs inside
      subtreeFingerprints(df, minNodes).distinct.map { case (fp, n) =>
        (fp, name, n)
      }
    }
    perQuery.groupBy(_._1).toSeq
      .map { case (fp, occ) =>
        val queries = occ.map(_._2).distinct.sorted
        val n = occ.map(_._3).max
        (fp, queries, n, n * (queries.size - 1))
      }
      .filter(_._2.size >= minQueries)
      .sortBy { case (fp, _, _, savings) => (-savings, fp) }
  }
}
