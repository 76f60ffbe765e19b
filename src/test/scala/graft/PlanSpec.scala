package graft

import graft.queries.Core

/** Locks in the physical-plan properties the 100 TB design depends on:
  * filter pushdown into the scan, column pruning, broadcast dimension
  * joins, partial aggregation, and orderBy+limit fusing to top-k. If a
  * refactor silently loses one of these, the query still passes its
  * oracle — this spec is what catches the plan regression.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("q2: filters are pushed into the parquet scan and columns pruned") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus)"), p.take(500))
    assert(p.contains("EqualTo(o_orderstatus,F)"))
    // 4 of 6 orders columns read
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double>"))
  }

  test("q8: dimension joins broadcast (fact side never shuffles for dims)") {
    val p = plan("q8_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q4: orderBy+limit fuses to TakeOrderedAndProject") {
    assert(plan("q4_topk").contains("TakeOrderedAndProject"))
  }

  test("q1: hash aggregation is partial+final") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q16: semi join planned as a real semi join") {
    assert(plan("q16_semi_join").contains("LeftSemi"))
  }

  test("golden logical shape: Limit(Sort(Aggregate(Filter(Scan)))) (FIXTURES §1c)") {
    // the reference's golden plan-string test (tests/test_logical.cpp:53-59),
    // kept structural: operator presence + nesting order, not byte-exact
    graft.engine.Tables.registerAll(spark, sf())
    val plan = spark.sql(
      """SELECT l_partkey, SUM(l_quantity) AS q FROM lineitem
        |WHERE l_quantity > 10 GROUP BY l_partkey ORDER BY q DESC LIMIT 5""".stripMargin)
      .queryExecution.optimizedPlan.toString
    val order = Seq("GlobalLimit", "Sort", "Aggregate", "Filter", "Relation")
      .map(op => plan.indexOf(op))
    assert(order.forall(_ >= 0), plan)
    assert(order == order.sorted, s"operator nesting out of order: $order\n$plan")
  }

  test("q27: topk_by plans as ObjectHashAggregate with map-side partial") {
    val p = plan("q27_topk_per_key")
    // partial + final ObjectHashAggregate pair: pruning happens before
    // the exchange, the point of the operator
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("partial_topk_by") || p.contains("topk_by"), p.take(800))
  }

  test("q53: bucketed join + bucket-key aggregate shuffle only for the order-by") {
    // Broadcast would hide the point at fixture scale (the small side fits
    // the 10 MB threshold), so force the SMJ path; AQE off so the plan
    // string is the static one. At 100 TB the planner picks SMJ unaided.
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q53_bucketed_join")
      assert(p.contains("SortMergeJoin"), p.take(800))
      // bucketed scans feed the join pre-partitioned AND pre-sorted: the
      // only Exchange in the whole plan is the final ORDER BY's range
      // partitioning; the join itself has no Exchange and no Sort above
      // the scans, and the per-order aggregate reuses the bucket layout.
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges == 1, s"expected 1 exchange (order-by), got $exchanges\n${p.take(1500)}")
      assert(p.contains("rangepartitioning"), p.take(800))
      assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
      // selected bucketed scan shows the bucket count
      assert(p.contains("SelectedBucketsCount: 8 out of 8"), p.take(1500))
      // the reuse consumer runs the SAME co-located join shape: its only
      // exchanges are the k-row aggregate + order-by, never a
      // hashpartitioning of either fact table's join input (the scans
      // feed the SMJ pre-partitioned and pre-sorted)
      val pr = plan("q53_bucketed_reuse")
      assert(pr.contains("SortMergeJoin"), pr.take(800))
      assert(!pr.contains("Exchange hashpartitioning(o_orderkey"), pr.take(1500))
      assert(!pr.contains("Exchange hashpartitioning(l_orderkey"), pr.take(1500))
      assert(pr.contains("SelectedBucketsCount: 8 out of 8"), pr.take(1500))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("q29: correlated EXISTS / NOT EXISTS decorrelate to semi/anti joins") {
    val p = plan("q29_exists")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("q30: tiny interval dimension joins as broadcast nested loop") {
    val p = plan("q30_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("dedup signatures are scan-side: no exchange below the sketch projection") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
      .selectExpr("doc_id", "shingle_hashes(text) AS ss", "simhash64(text) AS sim")
    val p = d.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(500))
    assert(p.contains("shingle_hashes") && p.contains("simhash64"), p.take(500))
  }

  test("ApproxNdvRule: COUNT(DISTINCT) rewrites to HLL only under the flag") {
    import org.apache.spark.sql.functions._
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
    def q = li.agg(countDistinct(col("l_partkey")).as("ndv"))
    val exact = q.head().getLong(0)
    spark.conf.set(graft.plans.ApproxNdvRule.FlagKey, "true")
    try {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("approx_count_distinct"), p.take(600))
      val approx = q.head().getLong(0)
      // HLL at default 5% rsd must land near the exact answer
      assert(math.abs(approx - exact).toDouble / exact < 0.15,
        s"approx=$approx exact=$exact")
    } finally spark.conf.set(graft.plans.ApproxNdvRule.FlagKey, "false")
    // flag off → exact plan untouched
    val p2 = q.queryExecution.executedPlan.toString
    assert(!p2.contains("approx_count_distinct"), p2.take(600))
  }

  test("cosine_f32 stays inside whole-stage codegen") {
    val df = SparkEntry.queries("sim_cosine_topk")(spark, sf())
    df.collect() // finalize the AQE plan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("cosine_f32"), p.take(800))
    // the Project computing cos carries a codegen id — i.e. it's inside a
    // WholeStageCodegen stage, not interpreted
    assert(p.split("\n").exists(l => l.contains("Project") && l.contains("codegen id")), p.take(1500))
  }

  test("text stats native expressions stay inside whole-stage codegen") {
    val df = SparkEntry.queries("text_stats")(spark, sf())
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the round-3 rewrites: count_in_set / sum_strlen in the projection
    // (replacing interpreted filter/aggregate lambdas), inside a codegen
    // stage — the scan-side hot loop the 100 TB path runs
    assert(p.contains("count_in_set") && p.contains("sum_strlen"), p.take(1200))
    assert(p.split("\n").exists(l => l.contains("Project") && l.contains("codegen id")), p.take(1500))
    val pf = SparkEntry.queries("text_fingerprint")(spark, sf())
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(pf.contains("roll_hash31"), pf.take(1200))
  }

  test("neardup band self-join shuffles id-size keys, never embeddings") {
    val df = SparkEntry.queries("sim_cosine_neardup_wide")(spark, sf())
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // candidate generation exchanges carry (vec_id, band, band_key) —
    // if an embedding column rides through a band-join exchange, the
    // 100 TB shuffle grows ~30×
    val exchanges = p.split("\n\n").filter(_.contains("Exchange"))
    val bandExchanges = exchanges.filter(s => s.contains("band"))
    assert(bandExchanges.nonEmpty, p.take(1500))
    assert(!bandExchanges.exists(_.contains("embedding")),
      bandExchanges.mkString("\n---\n").take(1500))
  }

  test("ApproxPercentileRule: percentile rewrites to the quantile sketch only under the flag") {
    graft.engine.Tables.registerAll(spark, sf())
    val q = """SELECT l_returnflag, percentile(l_quantity, 0.5) AS p50
               FROM lineitem GROUP BY l_returnflag"""
    val off = spark.sql(q).queryExecution.optimizedPlan.toString
    assert(off.contains("percentile(") && !off.contains("approx"), off.take(600))
    val exact = spark.sql(q).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    spark.conf.set(graft.plans.ApproxPercentileRule.FlagKey, "true")
    try {
      val on = spark.sql(q)
      val p = on.queryExecution.optimizedPlan.toString
      assert(p.contains("percentile_approx") || p.contains("approx_percentile"), p.take(600))
      // GK sketch at accuracy 10000 on these group sizes: rank error ~1e-4,
      // so the medians should agree to within one value step
      val approx = on.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (k, v) =>
        assert(math.abs(v - exact(k)) <= 1.0, s"$k: approx $v vs exact ${exact(k)}") }
      // integer columns must NOT rewrite (sketch returns input type,
      // exact percentile returns double — not schema-transparent)
      val intQ = spark.sql(
        "SELECT percentile(l_linenumber, 0.5) FROM lineitem")
      val ip = intQ.queryExecution.optimizedPlan.toString
      assert(!ip.contains("approx"), ip.take(600))
    } finally spark.conf.unset(graft.plans.ApproxPercentileRule.FlagKey)
  }

  test("bloom contamination: scan-side bloom probe filters BEFORE the exact join") {
    val df = SparkEntry.queries("text_contamination_bloom")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val probeAt = p.indexOf("bloom_might_contain")
    val joinAt = p.indexOf("BroadcastHashJoin")
    assert(probeAt >= 0, p.take(1200))
    assert(joinAt >= 0, p.take(1200))
    // executedPlan prints top-down, so the join must appear ABOVE (before)
    // the probe filter feeding it — i.e. the probe runs first at execution
    assert(joinAt < probeAt,
      s"bloom probe not below the exact-verify join (probe@$probeAt, join@$joinAt)")
  }

  test("heavy hitters: cms probe filters BEFORE the count shuffle") {
    val df = SparkEntry.queries("text_heavy_hitters")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    val probeAt = p.indexOf("cms_estimate")
    val exchangeAt = p.indexOf("Exchange hashpartitioning(token")
    assert(probeAt >= 0, p.take(1200))
    assert(exchangeAt >= 0, p.take(1200))
    // executedPlan prints top-down: the exchange must appear ABOVE the
    // probe filter — i.e. only sketch survivors are shuffled for the
    // exact count, the full token stream never leaves the scan stage
    assert(exchangeAt < probeAt,
      s"cms probe not below the count exchange (probe@$probeAt, exchange@$exchangeAt)")
  }

  test("substring dedup: window keys aggregate map-side; no text rides the wkey shuffle") {
    val df = SparkEntry.queries("dedup_substring")(spark, sf())
    df.collect()
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val exchanges = p.split("\n\n").filter(_.contains("Exchange"))
    val wkeyExchanges = exchanges.filter(_.contains("wkey"))
    assert(wkeyExchanges.nonEmpty, p.take(1500))
    // the cross-doc frequency shuffle must carry the 16-byte md5 key,
    // never the window text or the document body
    assert(!wkeyExchanges.exists(s => s.contains("text") || s.contains("concat_ws")),
      wkeyExchanges.mkString("\n---\n").take(1500))
  }

  test("partitioned layout: lang filter becomes partition pruning, not a row filter") {
    val path = java.nio.file.Files.createTempDirectory("graft_pp").toString
    graft.engine.Tables.load(spark, sf(), "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(path)
    val p = graft.sources.Formats.partitionedReadback(spark, path)
      .queryExecution.executedPlan.toString
    // the lang predicate must land in PartitionFilters (directory-level
    // pruning before any file is opened), not in PushedFilters/Filter
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), p.take(1200))
    assert(pf.contains("IN (en,fr") || pf.contains("in(lang"), pf)
  }

  test("contamination probes: no window and no shuffle before the probe filter") {
    // word_ngrams moved bigram generation scan-side (r6): the only
    // exchanges left belong to the final orderBy (+ the broadcast of the
    // tiny probe table); the per-doc token window is gone entirely
    val df = SparkEntry.queries("text_contamination")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(1500))
    assert(p.contains("word_ngrams"), p.take(1500))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 0, s"unexpected hash exchanges ($shuffles):\n${p.take(1500)}")
  }

  test("knn graph: no cartesian product; topk_by aggregates map-side") {
    val p = plan("sim_knn_graph")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // partial + final ObjectHashAggregate pair: each partition keeps at
    // most k candidates per vector before the shuffle
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("decontaminate: eval band side broadcasts; train corpus never shuffles for candidates") {
    val p = plan("dedup_decontaminate")
    // both the candidate band join and the eval-set verify join are
    // broadcasts of the (tiny) eval side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("centroids: partial+final aggregate (k×dim bounded state, no raw-vector shuffle)") {
    val p = plan("sim_centroids")
    assert(p.contains("partial"), p.take(1200))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("kmeans step: centroid table broadcasts; embeddings never shuffle") {
    val p = plan("sim_kmeans_step")
    // the only exchanges are the centroid aggregate's (k×dim states) and
    // the presentation sort — never a hash exchange of the corpus rows
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q54: histogram aggregates partial+final on scan-side bucket ids") {
    val p = plan("q54_histogram")
    assert(p.contains("partial"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("substring scrub: in-aggregate reassembly, no corpus-text shuffle keys") {
    val p = plan("dedup_substring_scrub")
    // reconstruction order comes from the ObjectHashAggregate's buffered
    // (pos, token) array — not from a corpus-wide window sort
    assert(p.contains("ObjectHashAggregate"), p.take(2000))
    // the covered-token drop is a real anti join on (doc_id, pos)
    assert(p.contains("LeftAnti"), p.take(2000))
    // no cartesian / NL anywhere (PlanHygieneSpec re-checks fleet-wide)
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("classifier hashed: scan-side projection — no exchange except the sort") {
    val p = plan("text_classifier_hashed")
    val exchanges = "Exchange".r.findAllIn(p).size
    // one rangepartitioning exchange for the presentation orderBy only
    assert(exchanges == 1, s"expected 1 exchange, plan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
      p.take(2000))
  }

  test("rolling active: anchor fanout plans as equi aggregates, no NL join") {
    val p = plan("events_rolling_active")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Generate explode"), p.take(2000))
  }

  test("alignment: one token explode, partial-before-shuffle counts, id-keyed broadcast pair joins (PLANS.md)") {
    val p = plan("multimodal_alignment")
    assert("Generate explode".r.findAllIn(p).size == 1, p.take(2000))
    // (doc, dim) counts combine map-side before their exchange
    assert(p.contains("partial_count") || p.contains("partial"), p.take(2000))
    // both pair joins are broadcast equi-joins; nothing self-joins or NLs
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }
}
