package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.MvAdvisor

class MvAdvisorSpec extends SparkSpecBase {

  test("advisor synthesizes the join-view candidate a q115-family workload needs; non-view shapes emit nothing") {
    val dir = sf()
    def li = graft.engine.Tables.load(spark, dir, "lineitem")
    def o = graft.engine.Tables.load(spark, dir, "orders")
    // a dashboard family over the same join, different grains/filters
    val q1 = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val q2 = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("s"))
    // a single-table aggregate family member
    val q3 = li.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("a"))
    // NOT view-shaped: aggregate over a window-derived frame
    val q4 = li.withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))))
      .filter(col("rn") === 1)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val cands = MvAdvisor.advise(
      Map("q1" -> q1, "q2" -> q2, "q3" -> q3, "q4" -> q4))

    val join = cands.find(_.base.contains(" ⋈ ")).get
    assert(join.queries == Seq("q1", "q2"))
    assert(join.base.contains("lineitem.parquet") &&
      join.base.contains("orders.parquet") &&
      join.base.contains("l_orderkey = o_orderkey"), join.base)
    // the union grain covers every family member — and matches the
    // registry def q115 actually answers from
    assert(join.dims.toSet ==
      Set("l_returnflag", "o_orderpriority", "o_orderstatus"))
    val d = graft.engine.MatView.joinRegistry("lineitem_orders")
    assert(join.dims.toSet.subsetOf(d.dims.toSet),
      "synthesized grain must be answerable by the registered view")
    assert(join.aggs.exists(_.startsWith("count")) &&
      join.aggs.exists(_.startsWith("sum")), join.aggs.mkString(";"))

    val single = cands.find(c =>
      !c.base.contains(" ⋈ ") && c.base.contains("lineitem.parquet")).get
    assert(single.queries == Seq("q3") && single.dims == Seq("l_returnflag"))

    // the window-derived aggregate never pollutes a candidate
    assert(cands.forall(c => !c.queries.contains("q4")))
  }

  test("materialize closes the loop: advisor row -> built view -> armed rewrite (VERDICT r13 item 4)") {
    val dir = sf()
    def su = graft.engine.Tables.load(spark, dir, "supplier")
    // supplier has NO hand registry entry: a rewrite firing below can
    // only come from the def materialize synthesized
    def q1 = su.groupBy(col("s_nationkey")).agg(count(lit(1)).as("n"))
    def q2 = su.filter(col("s_suppkey") <= 50)
      .groupBy(col("s_nationkey")).agg(avg(col("s_acctbal")).as("a"))
    val cand = MvAdvisor.advise(Map("q1" -> q1, "q2" -> q2))
      .find(_.base.endsWith("supplier.parquet")).get
    assert(cand.queries == Seq("q1", "q2"))
    val mvPath = s"${graft.engine.WorkDirs.processScoped("graft_mv_advspec")}/mv-su"
    val d = MvAdvisor.materialize(spark, cand, "advspec_supplier", mvPath)
      .left.toOption.get
    try {
      assert(d.dims.toSet == Set("s_nationkey", "s_suppkey"))
      assert(d.measures == Seq("s_acctbal"), d)
      // registered dynamically, visible to the merged catalog
      assert(graft.engine.MatView.registry.contains("advspec_supplier"))
      val res = q2.orderBy(col("s_nationkey"))
      val expected = res.collect().toSeq // rewrite may already fire; see below
      assert(res.queryExecution.optimizedPlan.toString.contains("mv_cntnn_s_acctbal"),
        "advisor-built AVG rewrite did not fire")
      // answered-from-view equals answered-from-base
      spark.conf.unset(d.pathKey)
      val fromBase = q2.orderBy(col("s_nationkey")).collect().toSeq
      assert(expected == fromBase)
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.baseKey)
    }
  }

  test("materialize synthesizes a MULTI-MEASURE join-view def: states from both sides, both queries answered (VERDICT r14 item 2)") {
    val dir = sf()
    def o = graft.engine.Tables.load(spark, dir, "orders")
    def c = graft.engine.Tables.load(spark, dir, "customer")
    // a two-measure family whose advised states span BOTH join sides:
    // sum(o_totalprice) from the fact, avg(c_acctbal) from the dim,
    // plus the cents idiom — one view must carry all three state sets.
    // round() sits OUTSIDE the agg calls (rewrite-eligible) and snaps
    // the double sums to their exact 0.01-quantum values so the
    // view-vs-base compare cannot flake on summation order.
    def q1 = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("o_totalprice")), 4).as("s"), count(lit(1)).as("n"))
    def q2 = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(avg(col("c_acctbal")), 4).as("a"),
        expr("sum(floor(o_totalprice * 100.0 + 0.5))").as("rc"))
    val cand = MvAdvisor.advise(Map("q1" -> q1, "q2" -> q2))
      .find(_.base.contains(" ⋈ ")).get
    assert(cand.queries == Seq("q1", "q2"))
    val mvPath = s"${graft.engine.WorkDirs.processScoped("graft_mv_advspec")}/mv-mm"
    val d = MvAdvisor.materialize(spark, cand, "advspec_mm", mvPath)
      .toOption.get
    try {
      assert(d.measures == Seq("c_acctbal", "o_totalprice"), d)
      assert(d.cents.contains("o_totalprice"), d)
      for ((nm, f) <- Seq("q1" -> q1.orderBy(col("c_mktsegment")),
          "q2" -> q2.orderBy(col("o_orderstatus")))) {
        val got = f.collect().toSeq
        val plan = f.queryExecution.optimizedPlan.toString
        assert(plan.contains("mv_cnt") && !plan.contains("Join"),
          s"multi-measure join rewrite did not fire for $nm:\n$plan")
        spark.conf.unset(d.pathKey)
        val base = (if (nm == "q1") q1.orderBy(col("c_mktsegment"))
          else q2.orderBy(col("o_orderstatus"))).collect().toSeq
        spark.conf.set(d.pathKey, mvPath)
        assert(got == base, s"$nm: view != base")
      }
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.leftBaseKey)
      spark.conf.unset(d.rightBaseKey)
    }
  }

  test("materialize builds and arms a JOIN-view def from an advised join candidate") {
    val dir = sf()
    def o = graft.engine.Tables.load(spark, dir, "orders")
    def c = graft.engine.Tables.load(spark, dir, "customer")
    // same join family as the hand orders_customer entry, but the def
    // under test is the synthesized one (distinct name + conf keys)
    def q1 = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        expr("sum(floor(o_totalprice * 100.0 + 0.5))").as("rc"))
    val cand = MvAdvisor.advise(Map("q1" -> q1))
      .find(_.base.contains(" ⋈ ")).get
    val mvPath = s"${graft.engine.WorkDirs.processScoped("graft_mv_advspec")}/mv-oc"
    val d = MvAdvisor.materialize(spark, cand, "advspec_oc", mvPath)
      .toOption.get
    try {
      // key -> side assignment recovered by schema membership
      assert(Set(d.leftKey, d.rightKey) == Set("o_custkey", "c_custkey"))
      assert((d.leftKey == "o_custkey") == (d.leftTable == "orders"))
      assert(d.cents.contains("o_totalprice"), d)
      val res = q1.orderBy(col("c_mktsegment"))
      val got = res.collect().toSeq
      val plan = res.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_cnt") && !plan.contains("Join"),
        s"advisor-built join rewrite did not fire:\n$plan")
      spark.conf.unset(d.pathKey)
      assert(got == q1.orderBy(col("c_mktsegment")).collect().toSeq)
    } finally {
      spark.conf.unset(d.pathKey)
      spark.conf.unset(d.leftBaseKey)
      spark.conf.unset(d.rightBaseKey)
    }
  }
}
