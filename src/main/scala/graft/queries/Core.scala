package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import graft.engine.Tables

/** Core relational operator coverage — the reference's complete operator
  * inventory (SURVEY.md §2: scan, filter/expressions, inner hash join,
  * hash aggregate SUM/COUNT/AVG, order by, limit, projection) plus the
  * standard-SQL surface the reference lacks but Spark gives natively
  * (SURVEY.md §2.7: DISTINCT, HAVING, outer/semi/anti joins, set ops,
  * window functions, rollup, subqueries). Reference semantics arbitration
  * per SURVEY.md §7.5: standard Spark/DuckDB SQL everywhere.
  *
  * Determinism contract with the DuckDB oracle:
  *  - every query ends in a total ORDER BY (ties broken by a key column);
  *  - double-typed aggregates go through an exact decimal accumulation and
  *    a single final cast to double (`dsum`) so partial-aggregation order
  *    (32-way local[32] here, 1000 executors at scale) cannot perturb the
  *    result vs the single-threaded oracle;
  *  - column names are aliased identically on both sides.
  *
  * Scale posture (100 TB): all queries are single-pass declarative plans.
  * Joins against `Tables.dims` are broadcast (no shuffle of the fact
  * table); fact-fact joins shuffle on the join key only after filters are
  * pushed to the scan. No collect(), no driver-side loops.
  */
object Core {

  /** Exact, order-insensitive sum of a double column: per-row cast to
    * decimal (exact base-10, deterministic round at `scale` digits), exact
    * decimal addition in any order, one final cast back to double. The
    * oracle spells the identical expression, so values hash-match bit-wise.
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def dsumSql(e: String, scale: Int = 4): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,$scale))) AS DOUBLE)"

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1 shape: scan → filter → hash aggregate (SUM/AVG/COUNT) →
    * sort. Mirrors the reference's HashAggregate + OrderBy stack
    * (/root/reference/src/exec/operator.cpp:860-1161). Catalyst plans a
    * partial+final HashAggregateExec, so only the (tiny) per-group partial
    * state shuffles — the pattern that survives 100 TB.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base_price,
       |  ${dsumSql("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", 6)} AS sum_disc_price,
       |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  /** Filter + expression projection (reference Selection + Project,
    * operator.cpp:388-559). The predicate reaches the parquet scan as
    * PushedFilters; only 4 of 6 columns are read (ReadSchema pruning).
    */
  def q2FilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 400000.0)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_totalprice") * lit(0.1)).as("tax10"))
      .orderBy(col("o_orderkey"))

  val q2Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  o_totalprice * CAST(0.1 AS DOUBLE) AS tax10
      |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > CAST(400000.0 AS DOUBLE)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q3
  /** The reference's own flagship shape (README.md:127-133; SURVEY §7.2):
    * fact⋈fact equi-join → filtered aggregate → top-k. The orders filter
    * is pushed below the join; both sides shuffle on the join key (at
    * 100 TB this is the one unavoidable shuffle; AQE handles skew).
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("l_partkey"))
      .limit(20)
  }

  val q3Sql: String =
    s"""SELECT l_partkey,
       |  ${dsumSql("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", 6)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderstatus = 'F'
       |GROUP BY l_partkey
       |ORDER BY revenue DESC, l_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q4
  /** ORDER BY + LIMIT → Catalyst fuses into TakeOrderedAndProjectExec
    * (per-partition top-k, then k·partitions rows to the driver — O(k)
    * traffic at any scale; the reference materializes+sorts everything,
    * operator.cpp:1076-1161).
    */
  def q4TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q4Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Global (no-key) aggregate — the reference's empty-group-key path
    * (operator.cpp:984-1014, exercised by SELECT COUNT(*),
    * tests/test_execution.cpp:210-225). MIN/MAX on doubles are exact
    * order statistics, safe to compare raw.
    */
  def q5GlobalAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      dsum(col("l_quantity")).as("sum_qty"))

  val q5Sql: String =
    s"""SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
       |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
       |  ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q6
  /** Arithmetic expression coverage: + - * / %, mixed int/double promotion
    * (reference expression.cpp:24-58; divergences adopted per SURVEY §7.5.3).
    */
  def q6Expressions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 100 === 0 && col("l_linenumber") <= 3)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 2.0).as("qty2"),
        (col("l_extendedprice") + col("l_tax")).as("gross"),
        (col("l_extendedprice") - col("l_discount") * col("l_extendedprice")).as("net"),
        (col("l_orderkey") % 7).as("bucket"),
        (col("l_extendedprice") / 100.0).as("price_h"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q6Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity * CAST(2.0 AS DOUBLE) AS qty2,
      |  l_extendedprice + l_tax AS gross,
      |  l_extendedprice - l_discount * l_extendedprice AS net,
      |  l_orderkey % 7 AS bucket,
      |  l_extendedprice / CAST(100.0 AS DOUBLE) AS price_h
      |FROM lineitem WHERE l_orderkey % 100 = 0 AND l_linenumber <= 3
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q7
  /** GROUP BY + HAVING. The reference parses HAVING but never executes it
    * (SURVEY §2.4); capability parity beats bug parity, so we implement it
    * (one post-aggregation filter — map-side partial agg still applies).
    */
  def q7Having(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy(col("o_custkey"))

  val q7Sql: String =
    s"""SELECT o_custkey, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS spend
       |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
       |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q8
  /** Star join: fact table joined through three broadcastable dimensions.
    * customer/nation/region are each orders of magnitude below lineitem,
    * so Catalyst broadcasts them (verified in plan) — the fact table never
    * shuffles for the dims, only for the orders join. This is THE shape
    * that must hold at 100 TB; the reference can only do one join
    * (planner.cpp:66-67).
    */
  def q8StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = broadcast(t(spark, dir, "customer"))
    val n = broadcast(t(spark, dir, "nation"))
    val r = broadcast(t(spark, dir, "region"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q8Sql: String =
    s"""SELECT r_name, n_name,
       |  ${dsumSql("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)", 6)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q9
  /** Multi-key sort, mixed ASC/DESC (reference OrderBy comparator,
    * operator.cpp:1115-1122) + limit.
    */
  def q9MultiSort(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc)
      .limit(100)

  val q9Sql: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      |ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q10
  /** DISTINCT (absent in the reference, SURVEY §2.7) — planned as a
    * hash aggregate on all columns; partial distinct runs map-side.
    */
  def q10Distinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  val q10Sql: String =
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Rich predicate surface the reference lacks entirely (SURVEY §2.2:
    * no IN/BETWEEN/LIKE/CASE): all pushed to the scan where possible.
    */
  def q11Predicates(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        && col("o_orderkey").between(100, 8000)
        && col("o_orderstatus").like("F%")
        && !col("o_orderpriority").like("3%") // NOT (no-op on this data, exercises the operator)
        && col("o_custkey").isNotNull) // IS NOT NULL
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000.0, "big")
          .when(col("o_totalprice") > 100000.0, "mid")
          .otherwise("small").as("bucket"))
      .orderBy(col("o_orderkey"))

  val q11Sql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > CAST(300000.0 AS DOUBLE) THEN 'big'
      |       WHEN o_totalprice > CAST(100000.0 AS DOUBLE) THEN 'mid'
      |       ELSE 'small' END AS bucket
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
      |  AND o_orderkey BETWEEN 100 AND 8000
      |  AND o_orderstatus LIKE 'F%'
      |  AND NOT o_orderpriority LIKE '3%'
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Date bucketing (reference DATE32 is a bare yyyymmdd int, SURVEY
    * §1.2; we adopt real temporal types per §7.5.2).
    */
  def q12RevenueByMonth(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("month"))

  val q12Sql: String =
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- q13
  /** String scalar functions (reference has none, SURVEY §2.7). */
  def q13StringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_name"), 10, 5).as("name_sub"),
        length(col("c_name")).as("name_len"),
        concat(col("c_mktsegment"), lit("-"), col("c_nationkey").cast("string")).as("seg_key"))
      .orderBy(col("c_custkey"))
      .limit(200)

  val q13Sql: String =
    """SELECT c_custkey, upper(c_name) AS name_upper,
      |  substr(c_name, 10, 5) AS name_sub,
      |  CAST(length(c_name) AS INT) AS name_len,
      |  c_mktsegment || '-' || CAST(c_nationkey AS VARCHAR) AS seg_key
      |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Set operations (absent in reference, SURVEY §2.7). UNION ALL then a
    * distinct UNION via the same pair.
    */
  def q14SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 9900.0)
      .select(col("c_nationkey").cast("int").as("nkey"), lit("customer").as("src"))
    val s = t(spark, dir, "supplier")
      .filter(col("s_acctbal") > 9000.0)
      .select(col("s_nationkey").cast("int").as("nkey"), lit("supplier").as("src"))
    c.unionAll(s).distinct().orderBy(col("src"), col("nkey"))
  }

  val q14Sql: String =
    """SELECT DISTINCT * FROM (
      |  SELECT CAST(c_nationkey AS INT) AS nkey, 'customer' AS src FROM customer WHERE c_acctbal > CAST(9900.0 AS DOUBLE)
      |  UNION ALL
      |  SELECT CAST(s_nationkey AS INT) AS nkey, 'supplier' AS src FROM supplier WHERE s_acctbal > CAST(9000.0 AS DOUBLE)
      |) ORDER BY src, nkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Window functions (absent in reference, SURVEY §2.7): top-2 orders
    * per customer. One shuffle on the partition key; ties broken so the
    * frame is deterministic.
    */
  def q15WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q15Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Left-semi join (absent in reference). Planned as a broadcast/hash
    * semi join — customers stream, orders build only the key set.
    */
  def q16SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 450000.0)
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val q16Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > CAST(450000.0 AS DOUBLE))
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Left-anti join (absent in reference): customers with no big order. */
  def q17AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 400000.0)
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  val q17Sql: String =
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > CAST(400000.0 AS DOUBLE))
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Left-outer join + null-skipping COUNT(col) (reference has neither,
    * SURVEY §2.7 / §7.5.7).
    */
  def q18OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 9500.0)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(count(col("c_custkey")).as("n_rich"))
      .orderBy(col("n_name"))
  }

  val q18Sql: String =
    """SELECT n_name, COUNT(c_custkey) AS n_rich
      |FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > CAST(9500.0 AS DOUBLE)) c
      |  ON n_nationkey = c_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q19
  /** ROLLUP grouping sets (absent in reference). NULL ordering pinned to
    * NULLS FIRST on both sides (Spark's ASC default; DuckDB defaults LAST).
    */
  def q19Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q19Sql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Scalar subquery in a predicate (absent in reference). Threshold uses
    * MAX (an exact order statistic) so the comparison is bit-deterministic.
    */
  def q20ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val thr = o.agg((max(col("o_totalprice")) * lit(0.9)).as("thr"))
    o.join(broadcast(thr), col("o_totalprice") > col("thr"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q20Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * CAST(0.9 AS DOUBLE)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Sketch aggregates: HyperLogLog++ approximate NDV next to the exact
    * count. At 100 TB the sketch is the only affordable NDV — fixed-size
    * state, one pass, mergeable across partitions. The sketch VALUE can't
    * hash-match DuckDB (different sketch family), but its ERROR BOUND can:
    * the query emits `|hll − exact| ≤ 5% · exact` per column as a boolean
    * (2.5σ at rsd = 0.02 — observed error is ≤ 1% at sf0.001–0.1), and
    * the oracle asserts TRUE alongside the exact NDVs. The grade is now
    * "the sketch is accurate", not "it returned a row".
    */
  def q21ApproxNdv(spark: SparkSession, dir: String): DataFrame = {
    // The HLL aggregates and the exact countDistincts deliberately run as
    // SEPARATE one-row aggregates joined at the end: mixing an
    // HLL++(rsd=0.02) buffer (~700 long words) with the multi-distinct
    // Expand rewrite in ONE agg() makes Spark drag that wide buffer
    // through every expanded row — measured 17 s vs 2.5 s split, sf0.1.
    // Each pass is a pruned 2-column scan with map-side partials.
    val li = t(spark, dir, "lineitem")
    val hll = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("hll_pk"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("hll_ok"))
    li.agg(
        countDistinct(col("l_partkey")).as("ndv_partkey_exact"),
        countDistinct(col("l_orderkey")).as("ndv_orderkey_exact"))
      .crossJoin(broadcast(hll))
      .select(
        col("ndv_partkey_exact"), col("ndv_orderkey_exact"),
        (abs(col("hll_pk") - col("ndv_partkey_exact"))
          <= col("ndv_partkey_exact") * lit(0.05)).as("partkey_within_5pct"),
        (abs(col("hll_ok") - col("ndv_orderkey_exact"))
          <= col("ndv_orderkey_exact") * lit(0.05)).as("orderkey_within_5pct"))
  }

  val q21Sql: String =
    """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_partkey_exact,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_orderkey_exact,
      |  TRUE AS partkey_within_5pct, TRUE AS orderkey_within_5pct
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Approximate-percentile sketch graded by its RANK-ERROR GUARANTEE —
    * the q21 technique applied to quantiles: percentile_approx's
    * Greenwald-Khanna sketch promises the returned value sits within
    * n/accuracy ranks of the target, so the query recounts the returned
    * value's exact rank (one COUNT of rows ≤ value) and emits the
    * guarantee as a boolean the oracle asserts TRUE. The sketch VALUE
    * depends on merge order and can't hash-match; the GUARANTEE is
    * order-independent. At 100 TB the sketch is the only affordable
    * quantile (fixed-size mergeable state, one pass); this query is the
    * proof harness that it stays honest.
    */
  def q61ApproxPctlBound(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_extendedprice").as("v"))
    val sk = li.agg(
      expr("percentile_approx(v, 0.5, 1000)").as("a50"),
      expr("percentile_approx(v, 0.99, 1000)").as("a99"),
      count(lit(1)).as("n"))
    // A value with duplicates occupies the whole rank interval
    // [COUNT(<)+1, COUNT(<=)] in sorted order, and GK's guarantee is that
    // SOME rank of the returned value lies within n/accuracy of the
    // target — so the check is interval-intersects-interval, which
    // handles arbitrary duplicate runs with no magic slack constant
    // (ADVICE r7: the old COUNT(<=) upper-rank test needed a +16 fudge
    // that heavier value duplication could still breach).
    def withinBound(lt: Column, le: Column, target: Column, eps: Column): Column =
      (lt + 1 <= target + eps) && (le >= target - eps)
    li.crossJoin(broadcast(sk))
      .agg(
        max(col("n")).as("n_rows"),
        sum(when(col("v") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("v") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("v") < col("a99"), 1L).otherwise(0L)).as("lt99"),
        sum(when(col("v") <= col("a99"), 1L).otherwise(0L)).as("le99"))
      .select(
        col("n_rows"),
        withinBound(col("lt50"), col("le50"),
          col("n_rows") / 2, col("n_rows") / 1000 + 1)
          .as("p50_within_rank_bound"),
        withinBound(col("lt99"), col("le99"),
          col("n_rows") * 99 / 100, col("n_rows") / 1000 + 1)
          .as("p99_within_rank_bound"))
  }

  val q61Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  TRUE AS p50_within_rank_bound, TRUE AS p99_within_rank_bound
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q22
  /** As-of join — an operator Spark lacks natively (and the reference
    * lacks entirely): for each event, the most recent order date of the
    * same customer at or before the event time. Composed from existing
    * ops (preference (a) of the extension ladder): tag + union both
    * sides, one shuffle on the key, and a running `last(ignoreNulls)`
    * window ordered by (time, side) so an order at exactly the event
    * time wins (>= semantics, matching DuckDB's ASOF JOIN oracle).
    * Cost at scale: one shuffle + one per-key sort — the standard
    * distributed as-of; no range cross-product ever materializes.
    */
  def q22AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"))
      .distinct()
      .select(col("k"), col("t"), lit(null).cast("long").as("event_id"),
        col("t").as("odate"), lit(1).as("side"))
    val ev = t(spark, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t"), col("event_id"),
        lit(null).cast("timestamp").as("odate"), lit(0).as("side"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("last_order_date", last(col("odate"), ignoreNulls = true).over(w))
      .filter(col("side") === 0 && col("last_order_date").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        col("last_order_date"))
      .orderBy(col("event_id"))
  }

  val q22Sql: String =
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  o.o_orderdate AS last_order_date
      |FROM events e ASOF JOIN (SELECT DISTINCT o_custkey, o_orderdate FROM orders) o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q26
  /** The SAME as-of join as q22, through the native custom operator
    * (graft.plans.AsofJoinPlan → AsofJoinExec): one shuffle per side,
    * single-pass partition merge, no union/window machinery. Shares
    * q22's DuckDB ASOF JOIN oracle — the strongest possible check for a
    * hand-written physical operator.
    */
  def q26AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate")).distinct()
    graft.ops.Asof.join(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- q62
  /** As-of join WITH TOLERANCE (pandas merge_asof's `tolerance`, absent
    * in both the reference and stock Spark): the q26 native operator,
    * but a match only counts when the event is within a staleness bound
    * of the matched order — the bounded-staleness form every serving join
    * actually wants (an 18-month-old "most recent order" is noise, and
    * at 100 TB the staleness bound also caps how much right-side history
    * a backfill must retain). Tolerance rides the same single-pass
    * partition merge (the as-of pick is the greatest rt ≤ lt, so a
    * failed bound proves no older candidate can pass); the oracle is
    * DuckDB's ASOF JOIN with the bound applied as a post-filter —
    * equivalent by that same argument.
    */
  def q62AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate")).distinct()
    // 9000 days: the fixture pairs 2024 events with TPC-H-era orders
    // (staleness 8190-9799 days), so this bound keeps a real strict
    // subset (~97% at sf0.01) instead of grading vacuously at 0 or 100%
    graft.ops.Asof.join(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        tolerance = Some(q62TolMicros))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderdate").as("recent_order_date"))
      .orderBy(col("event_id"))
  }

  private val q62TolMicros = 9000L * 24 * 3600 * 1000000L

  // ---------------------------------------------------------------- q68
  /** FORWARD as-of join (pandas merge_asof direction='forward') through
    * the native operator: for each order, the customer's FIRST event
    * at/after the order date — "next touchpoint after purchase", the
    * direction the backward pick cannot express (and the fixture's time
    * layout demands: events postdate every order). Same single-pass
    * partition merge, simpler state (the match is the right-side HEAD,
    * peeked not consumed — later orders of the same customer may share
    * it). Oracle: the composed union + forward-frame window min, the
    * mirror of q22's composed backward form.
    */
  def q68AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val ev = t(spark, dir, "events").select(col("user_id"), col("ts"))
    graft.ops.Asof.joinForward(ord, ev, "o_custkey", "user_id",
        "o_orderdate", "ts")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("ts").as("next_event_ts"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q69
  /** NEAREST as-of (merge_asof direction='nearest'): each view event's
    * closest purchase by the same user, before OR after — the
    * attribution question neither single direction answers. Composed
    * from the two native passes ([[graft.ops.Asof.joinNearest]]); ties
    * go backward. Oracle: union + both window passes (running last /
    * first purchase row around each view) with the same micros-distance
    * pick.
    */
  def q69AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    graft.ops.Asof.joinNearest(v, p, "event_id", "user_id", "p_user",
        "ts", "p_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_id").as("nearest_purchase_id"),
        col("p_ts").as("nearest_purchase_ts"))
      .orderBy(col("event_id"))
  }

  val q69Sql: String =
    """WITH u AS (
      |  SELECT user_id AS k, ts AS t, event_id AS vid,
      |    CAST(NULL AS BIGINT) AS pid, CAST(NULL AS TIMESTAMP) AS pts, 0 AS is_ev
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, ts, NULL, event_id, ts, 1
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *,
      |    last_value(pts IGNORE NULLS) OVER wb AS bts,
      |    last_value(pid IGNORE NULLS) OVER wb AS bid,
      |    first_value(pts IGNORE NULLS) OVER wf AS fts,
      |    first_value(pid IGNORE NULLS) OVER wf AS fid
      |  FROM u
      |  WINDOW
      |    wb AS (PARTITION BY k ORDER BY t, is_ev DESC, pid
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wf AS (PARTITION BY k ORDER BY t, is_ev DESC, pid
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |pick AS (
      |  SELECT vid, k, t,
      |    CASE WHEN bts IS NULL THEN fid
      |         WHEN fts IS NULL THEN bid
      |         WHEN epoch_us(t) - epoch_us(bts) <= epoch_us(fts) - epoch_us(t)
      |           THEN bid ELSE fid END AS pid,
      |    CASE WHEN bts IS NULL THEN fts
      |         WHEN fts IS NULL THEN bts
      |         WHEN epoch_us(t) - epoch_us(bts) <= epoch_us(fts) - epoch_us(t)
      |           THEN bts ELSE fts END AS pts
      |  FROM w WHERE is_ev = 0)
      |SELECT vid AS event_id, k AS user_id, t AS ts,
      |  pid AS nearest_purchase_id, pts AS nearest_purchase_ts
      |FROM pick WHERE pid IS NOT NULL
      |ORDER BY event_id""".stripMargin

  val q68Sql: String =
    """WITH u AS (
      |  SELECT o_orderkey AS id, o_custkey AS k, o_orderdate AS t,
      |    CAST(NULL AS TIMESTAMP) AS ets, 0 AS is_ev
      |  FROM orders
      |  UNION ALL
      |  SELECT NULL, user_id, ts, ts, 1 FROM events),
      |w AS (
      |  SELECT *, min(ets) OVER (PARTITION BY k ORDER BY t ASC, is_ev ASC
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
      |  FROM u)
      |SELECT id AS o_orderkey, k AS o_custkey, t AS o_orderdate,
      |  next_ts AS next_event_ts
      |FROM w WHERE is_ev = 0 AND next_ts IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  // the staleness bound is phrased as epoch-micro arithmetic rather than
  // `ts <= o_orderdate + INTERVAL`, which DuckDB's binder would push into
  // the ASOF join and reject ("Multiple ASOF JOIN inequalities")
  val q62Sql: String =
    s"""SELECT event_id, user_id, ts, recent_order_date FROM (
      |  SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |    o.o_orderdate AS recent_order_date
      |  FROM events e ASOF JOIN (SELECT DISTINCT o_custkey, o_orderdate FROM orders) o
      |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
      |WHERE epoch_us(ts) - epoch_us(recent_order_date) <= $q62TolMicros
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Deterministic sampling (reference lacks sample/tablesample, SURVEY
    * §2.7): the reproducible-at-scale trick — order by a hash of the key
    * and take k. Unlike TABLESAMPLE/rand(), the same rows come back on
    * any cluster, any partitioning, any retry; md5 keeps the oracle in
    * agreement (DuckDB lacks xxhash64).
    */
  def q23DeterministicSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        md5(col("o_orderkey").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  val q23Sql: String =
    """SELECT o_orderkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_totalprice, md5(CAST(o_orderkey AS VARCHAR)) AS h
      |  FROM orders ORDER BY h, o_orderkey LIMIT 100)
      |ORDER BY h, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q24
  /** CUBE grouping sets (absent in reference, SURVEY §2.7). */
  def q24Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val q24Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${dsumSql("o_totalprice")} AS total
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q25
  /** INTERSECT / EXCEPT set operations (absent in reference, §2.7):
    * nations that have both a rich customer and a rich supplier, and the
    * customer-only remainder, tagged and unioned.
    */
  def q25IntersectExcept(spark: SparkSession, dir: String): DataFrame = {
    val custN = t(spark, dir, "customer").filter(col("c_acctbal") > 8000.0)
      .select(col("c_nationkey").cast("int").as("nkey"))
    val suppN = t(spark, dir, "supplier").filter(col("s_acctbal") > 8000.0)
      .select(col("s_nationkey").cast("int").as("nkey"))
    val both = custN.intersect(suppN).withColumn("which", lit("both"))
    val custOnly = custN.except(suppN).withColumn("which", lit("cust_only"))
    both.unionByName(custOnly).orderBy(col("which"), col("nkey"))
  }

  val q25Sql: String =
    """SELECT * FROM (
      |  SELECT nkey, 'both' AS which FROM (
      |    SELECT CAST(c_nationkey AS INT) AS nkey FROM customer WHERE c_acctbal > CAST(8000.0 AS DOUBLE)
      |    INTERSECT
      |    SELECT CAST(s_nationkey AS INT) FROM supplier WHERE s_acctbal > CAST(8000.0 AS DOUBLE))
      |  UNION ALL
      |  SELECT nkey, 'cust_only' AS which FROM (
      |    SELECT CAST(c_nationkey AS INT) AS nkey FROM customer WHERE c_acctbal > CAST(8000.0 AS DOUBLE)
      |    EXCEPT
      |    SELECT CAST(s_nationkey AS INT) FROM supplier WHERE s_acctbal > CAST(8000.0 AS DOUBLE)))
      |ORDER BY which, nkey""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Per-key top-k via the native bounded-heap aggregate
    * (graft.functions.TopKByAgg, registered as `topk_by`). The window
    * row_number formulation (q15) sorts EVERY row after a full shuffle;
    * this aggregate prunes map-side, so the exchange carries at most
    * k·keys·partitions entries and no sort materializes — the per-key
    * analogue of TakeOrderedAndProject. The oracle is the window
    * formulation in DuckDB, so both strategies answer the same check.
    */
  def q27TopkPerKey(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(expr("topk_by(l_extendedprice, l_orderkey * 10 + l_linenumber, 3)").as("top"))
      .select(col("l_suppkey"), posexplode(col("top")).as(Seq("pos", "x")))
      .select(col("l_suppkey"), (col("pos") + 1).cast("long").as("rk"),
        col("x.ord").as("price"), col("x.id").as("item_id"))
      .orderBy(col("l_suppkey"), col("rk"))
  }

  val q27Sql: String =
    """WITH r AS (
      |  SELECT l_suppkey, l_extendedprice AS price,
      |    l_orderkey * 10 + l_linenumber AS item_id,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rk
      |  FROM lineitem)
      |SELECT l_suppkey, rk, price, item_id FROM r WHERE rk <= 3
      |ORDER BY l_suppkey, rk""".stripMargin

  // ---------------------------------------------------------------- q28
  /** PIVOT (absent in reference): event counts per user bucket by type.
    * Explicit pivot values keep the schema static (no driver-side
    * distinct scan — required at 100 TB).
    */
  def q28Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy((col("user_id") % 100).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy(col("user_bucket"))

  val q28Sql: String =
    """SELECT user_id % 100 AS user_bucket,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Correlated EXISTS / NOT EXISTS subqueries (reference has no
    * subqueries at all, SURVEY §2.7). Catalyst decorrelates both into
    * semi/anti joins — check the plan, not the nested loop.
    */
  def q29Exists(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("q29_customer")
    t(spark, dir, "orders").createOrReplaceTempView("q29_orders")
    // WITH clause included deliberately — CTEs are part of the §2.7
    // surface the reference lacks
    spark.sql(
      """WITH f_orders AS (
        |  SELECT o_custkey FROM q29_orders WHERE o_orderstatus = 'F')
        |SELECT c_custkey, c_name FROM q29_customer c
        |WHERE EXISTS (SELECT 1 FROM f_orders o WHERE o.o_custkey = c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM q29_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > CAST(300000.0 AS DOUBLE))
        |ORDER BY c_custkey""".stripMargin)
  }

  val q29Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > CAST(300000.0 AS DOUBLE))
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Range (interval) join: activity around the 5 busiest 10-minute
    * spikes. The spike dimension is tiny and broadcast, so the range
    * predicate runs as a BroadcastNestedLoopJoin over 5 rows — the right
    * plan at any corpus size (a shuffle range-join would bucket time
    * instead; see SCALING.md).
    */
  def q30RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val spikes = e.groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("spike_n"))
      .orderBy(col("spike_n").desc, col("w.start"))
      .limit(5)
      .select(col("w.start").as("spike_start"), col("spike_n"))
    e.join(broadcast(spikes),
        col("ts") >= col("spike_start") - expr("INTERVAL 30 MINUTES") &&
        col("ts") < col("spike_start") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("spike_start"), col("spike_n"))
      .agg(count(lit(1)).as("n_nearby"), dsum(col("value")).as("total_value"))
      .orderBy(col("spike_start"))
  }

  val q30Sql: String =
    s"""WITH b AS (
       |  SELECT make_timestamp(CAST(floor(epoch(ts)/600) AS BIGINT)*600*1000000) AS ws,
       |    COUNT(*) AS spike_n
       |  FROM events GROUP BY 1),
       |s AS (SELECT ws AS spike_start, spike_n FROM b ORDER BY spike_n DESC, ws LIMIT 5)
       |SELECT s.spike_start, s.spike_n, COUNT(*) AS n_nearby,
       |  ${dsumSql("value")} AS total_value
       |FROM events e JOIN s ON e.ts >= s.spike_start - INTERVAL 30 MINUTE
       |                    AND e.ts < s.spike_start + INTERVAL 30 MINUTE
       |GROUP BY 1, 2 ORDER BY spike_start""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Array functions over grouped data: collect_set → sort_array →
    * array_join (deterministic despite collect_set's arrival order).
    */
  def q31ArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        array_join(sort_array(collect_set(col("source"))), ",").as("sources"),
        countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val q31Sql: String =
    """SELECT lang,
      |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
      |  COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Explicit GROUPING SETS with grouping() markers (rollup/cube cover
    * the generated forms; this is the free-form one).
    */
  def q32GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("q32_orders")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
         |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM q32_orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
         |ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST,
         |  o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  val q32Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
       |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
       |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
       |ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST,
       |  o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Analytic window functions beyond row_number (q15): lag, ntile,
    * percent_rank, cume_dist over per-customer order history.
    */
  def q33WindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q33Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  ntile(4) OVER w AS quartile,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM orders WHERE o_custkey < 300
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Conditional / filtered aggregation: per-priority counts and totals
    * under different predicates in one pass (COUNT FILTER ≡ count(when)).
    */
  def q34FilteredAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_totalprice") > 200000.0, 1)).as("n_big"),
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0))).as("total_f"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q34Sql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
       |  COUNT(*) FILTER (o_totalprice > CAST(200000.0 AS DOUBLE)) AS n_big,
       |  ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE CAST(0.0 AS DOUBLE) END")} AS total_f,
       |  COUNT(*) AS n
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Exact interpolated quantiles per group (`f`, `x` columns), matching
    * DuckDB `quantile_cont` bit-for-bit (position p·(n−1), linear
    * interpolation — identical double ops in identical order).
    *
    * TWO-PHASE BUCKET algorithm, shared by q35 and q59: a per-group
    * rank window (`row_number() OVER (PARTITION BY f ORDER BY x)`) caps
    * sort parallelism at the number of groups — with l_returnflag's 3
    * values that measured 6.5× at 10× blowup. Phase 1 histograms rows
    * into integer floor(x) buckets (fully parallel partial+final
    * aggregate) and walks the cumulative counts to locate, for every
    * requested quantile, the bucket holding each bracketing rank — that
    * window's input is O(distinct buckets), BOUNDED BY THE VALUE RANGE,
    * not the row count. Phase 2 extracts all bracketing values in ONE
    * join+window pass over just the target buckets' rows. Spark's
    * builtin `percentile` (value→count ObjectHashAggregate) measured
    * 6.1 s at sf0.1 on mostly-unique doubles and cannot spill its map.
    */
  private[graft] def bucketQuantilesOn(df: DataFrame, ps: Seq[(Double, String)]): DataFrame = {
    // bucket width 64: the histogram (and so the cumsum window input)
    // shrinks 64× vs unit buckets while phase 2 still sorts only a few
    // hundred rows per target bucket — measured the best of both at sf0.1
    val b = df.select(col("f"), col("x"))
      .withColumn("bkt", floor(col("x") / lit(64.0d)).cast("long"))
    val wcum = Window.partitionBy(col("f")).orderBy(col("bkt"))
    val cum = b.groupBy(col("f"), col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("f"))))
    // 0-based bracketing ranks floor/ceil(p·(n−1)); rank r lives in the
    // bucket where cum − c ≤ r < cum, as its (r − (cum − c))-th smallest.
    // All 2·|ps| ranks are tested in ONE pass over the histogram (an
    // exploded (rank, tag) array) — a union of per-rank branches would
    // recompute the cumsum windows per branch (measured: 4.6 s → 2 s
    // for the hits frame at sf0.1).
    val rankTags = array(ps.flatMap { case (p, nm) =>
      val pos = lit(p) * (col("n") - 1).cast("double")
      Seq(
        struct(floor(pos).cast("long").as("r"), lit(s"${nm}_lo").as("which")),
        struct(ceil(pos).cast("long").as("r"), lit(s"${nm}_hi").as("which")))
    }: _*)
    val hits = cum.select(col("f"), col("bkt"), col("c"), col("cum"),
        col("n"), explode(rankTags).as("t"))
      .filter(col("cum") - col("c") <= col("t.r") && col("t.r") < col("cum"))
      .select(col("f").as("hf"), col("bkt").as("tb"),
        (col("t.r") - (col("cum") - col("c"))).as("tk"),
        col("t.which").as("which"), col("n"))
    val wIn = Window.partitionBy(col("f"), col("tb"), col("which")).orderBy(col("x"))
    val aggs = ps.flatMap { case (_, nm) => Seq(
      max(when(col("which") === s"${nm}_lo", col("x"))).as(s"${nm}_qlo"),
      max(when(col("which") === s"${nm}_hi", col("x"))).as(s"${nm}_qhi"))
    } :+ max(col("n")).as("nn")
    val agg = b.join(broadcast(hits), col("f") === col("hf") && col("bkt") === col("tb"))
      .withColumn("rnk", row_number().over(wIn).cast("long") - 1)
      .filter(col("rnk") === col("tk"))
      .groupBy(col("f")).agg(aggs.head, aggs.tail: _*)
    val outCols = col("f") +: ps.map { case (p, nm) =>
      val pos = lit(p) * (col("nn") - 1).cast("double")
      (col(s"${nm}_qlo") + (pos - floor(pos)) * (col(s"${nm}_qhi") - col(s"${nm}_qlo")))
        .as(nm)
    }
    agg.select(outCols: _*)
  }

  /** Exact order statistics per group — see [[bucketQuantilesOn]] for
    * the scale-shaped algorithm (this was the rank-window form until the
    * q59 blowup measurement exposed the 3-partition sort cap).
    */
  def q35Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
    val qs = bucketQuantilesOn(li,
      Seq(0.5 -> "p50v", 0.9 -> "p90v", 0.99 -> "p99v"))
    val mm = li.groupBy(col("f")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    qs.join(mm, "f")
      .select(col("f").as("l_returnflag"),
        round(col("p50v"), 6).as("p50"), round(col("p90v"), 6).as("p90"),
        round(col("p99v"), 6).as("p99"), col("lo"), col("hi"))
      .orderBy(col("l_returnflag"))
  }

  val q35Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
      |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Semi-structured JSON column: extract a typed field from the `props`
    * JSON string and aggregate it (get_json_object ≡ json_extract).
    */
  def q36Json(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val q36Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Date/time function library breadth beyond q12's date_trunc: parts
    * extraction, day arithmetic, calendar-aware month addition, ISO
    * weeks, end-of-month. All integer/date-typed — bit-deterministic.
    */
  def q37Datetime(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("int").as("yr"),
        quarter(col("o_orderdate")).cast("int").as("qtr"),
        month(col("o_orderdate")).cast("int").as("mo"),
        dayofmonth(col("o_orderdate")).cast("int").as("dy"),
        weekofyear(col("o_orderdate")).cast("int").as("wk"),
        datediff(lit("2024-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("int").as("days_to_2024"),
        last_day(col("o_orderdate").cast("date")).cast("string").as("eom"),
        add_months(col("o_orderdate").cast("date"), 2).cast("string").as("plus2m"))
      .orderBy(col("o_orderkey"))

  val q37Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(day(o_orderdate) AS INT) AS dy,
      |  CAST(weekofyear(o_orderdate) AS INT) AS wk,
      |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2024-01-01') AS INT) AS days_to_2024,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
      |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2m
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** String function library breadth beyond q13: padding, reverse,
    * position, regexp extraction, edit distance, split_part.
    */
  def q38StringOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") < 300)
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        reverse(col("p_type")).as("type_rev"),
        instr(col("p_name"), "a").cast("long").as("first_a"),
        regexp_extract(col("p_name"), "([0-9]+)", 1).as("first_num"),
        levenshtein(col("p_brand"), lit("Brand#13")).cast("long").as("edit_dist"),
        substring_index(col("p_type"), " ", 1).as("type_head"))
      .orderBy(col("p_partkey"))

  val q38Sql: String =
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '*') AS brand_pad,
      |  reverse(p_type) AS type_rev,
      |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
      |  COALESCE(regexp_extract(p_name, '([0-9]+)', 1), '') AS first_num,
      |  CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS edit_dist,
      |  split_part(p_type, ' ', 1) AS type_head
      |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q39
  /** The salted skew-join (graft.ops.SkewJoin) producing the SAME result
    * as a plain equi-join — the oracle is the unsalted join, so the salt
    * mechanics (deterministic row-hash salt, right-side replication,
    * (key, salt) join) are correctness-checked, not just demonstrated.
    * Use case at 100 TB: one key too hot for AQE's partition splitting.
    */
  def q39SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    graft.ops.SkewJoin.saltedInnerJoin(l, "l_orderkey", o, "o_orderkey", 8)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice"), 6).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val q39Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${dsumSql("l_extendedprice", 6)} AS total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q40
  /** RANGE window frame (value-based, vs q15/q33's row-based): rolling
    * 7-day spend per customer. Frames are defined over epoch seconds on
    * both sides so tie groups (same-day orders) are included identically
    * regardless of intra-day order — deterministic by construction.
    */
  def q40RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; hop through timestamp (identity in a
    // UTC session) to get epoch seconds for the numeric range frame
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-6L * 86400L, 0L)
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w)
          .cast("double").as("spend_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q40Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS spend_7d,
      |  COUNT(*) OVER w AS n_7d
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
      |  RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q41
  /** FULL OUTER join (q18 covers left outer): per-nation customer vs
    * supplier counts with deliberately part-overlapping key ranges, so
    * left-only, matched, and right-only null patterns all appear.
    */
  def q41FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cn = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").cast("int").as("nkey"))
      .agg(count(lit(1)).as("n_cust"))
      .filter(col("nkey") < 15)
    val sn = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").cast("int").as("nkey2"))
      .agg(count(lit(1)).as("n_supp"))
      .filter(col("nkey2") >= 10)
    cn.join(sn, col("nkey") === col("nkey2"), "full_outer")
      .select(coalesce(col("nkey"), col("nkey2")).as("nation_key"),
        col("n_cust"), col("n_supp"))
      .orderBy(col("nation_key"))
  }

  val q41Sql: String =
    """SELECT COALESCE(c.nkey, s.nkey2) AS nation_key, c.n_cust, s.n_supp
      |FROM (SELECT CAST(c_nationkey AS INT) AS nkey, COUNT(*) AS n_cust
      |      FROM customer GROUP BY 1 HAVING nkey < 15) c
      |FULL JOIN (SELECT CAST(s_nationkey AS INT) AS nkey2, COUNT(*) AS n_supp
      |      FROM supplier GROUP BY 1 HAVING nkey2 >= 10) s
      |  ON c.nkey = s.nkey2
      |ORDER BY nation_key""".stripMargin

  // ---------------------------------------------------------------- q42
  /** ASOF LEFT JOIN through the native operator: the order history is
    * restricted to customers < 75 (events carry user_ids up to ~150·sf·10k), so events from other users genuinely
    * null-extend — exercising the outer path in the driver check, not
    * just in specs. Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  def q42AsofLeft(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_custkey") < 75)
      .select(col("o_custkey"), col("o_orderdate")).distinct()
    graft.ops.Asof.leftJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  val q42Sql: String =
    """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
      |  o.o_orderdate AS last_order_date
      |FROM events e ASOF LEFT JOIN (
      |  SELECT DISTINCT o_custkey, o_orderdate FROM orders WHERE o_custkey < 75) o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Statistical moments computed from exact decimal power sums — NOT
    * Spark's corr()/var_pop() co-moment accumulators, whose result
    * depends on partition merge order. From exact Σx, Σx², Σxy (decimal,
    * any order) the mean/variance/correlation arithmetic is identical
    * IEEE ops on identical doubles in both engines, so the oracle
    * hash-matches from any parallelism — the same trick as dsum, lifted
    * to second moments.
    */
  def q43Moments(spark: SparkSession, dir: String): DataFrame = {
    def bigsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast("double")
    val x = col("l_extendedprice")
    val y = col("l_quantity")
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        bigsum(x).as("sx"), bigsum(x * x).as("sxx"),
        bigsum(y).as("sy"), bigsum(y * y).as("syy"),
        bigsum(x * y).as("sxy"))
      .select(col("l_returnflag"),
        round(col("sx") / col("n"), 6).as("mean_price"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), 4).as("var_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
           sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val q43Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  round(sx / n, 6) AS mean_price,
      |  round((sxx - sx * sx / n) / n, 4) AS var_price,
      |  round((sxy - sx * sy / n) /
      |    (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6) AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Day-over-day retention: of the users active on day d, the fraction
    * also active on d+1. Two aggregates over the distinct (user, day)
    * frame and one self-join on (user, day+1).
    */
  def q44Retention(spark: SparkSession, dir: String): DataFrame = {
    // ud branches three ways (actives + both self-join sides); without a
    // materialization point Spark would scan events and run the distinct
    // shuffle three times per execution
    val ud = graft.engine.Materialize.stage(
      t(spark, dir, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .distinct())
    val active = ud.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val retained = ud.as("a")
      .join(ud.as("b"), col("a.user_id") === col("b.user_id") &&
        col("b.day") === col("a.day") + expr("INTERVAL 1 DAY"))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("n_retained"))
    active.join(retained, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        round(coalesce(col("n_retained"), lit(0L)) / col("n_active").cast("double"), 6)
          .as("retention"))
      .orderBy(col("day"))
  }

  val q44Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events),
      |active AS (SELECT day, COUNT(*) AS n_active FROM ud GROUP BY day),
      |retained AS (
      |  SELECT a.day AS day, COUNT(*) AS n_retained
      |  FROM ud a JOIN ud b ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
      |  GROUP BY 1)
      |SELECT active.day, n_active,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  round(COALESCE(n_retained, 0) / CAST(n_active AS DOUBLE), 6) AS retention
      |FROM active LEFT JOIN retained ON active.day = retained.day
      |ORDER BY active.day""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Value window functions (first_value / last_value / nth_value) with
    * an explicit unbounded frame — complements q15 (row_number), q33
    * (rank family), q40 (RANGE frames).
    */
  def q45ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q45Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  last_value(o_totalprice) OVER w AS last_price,
      |  nth_value(o_totalprice, 2) OVER w AS second_price
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Higher-order array functions as a user-facing surface (transform /
    * filter / zip_with / aggregate ≡ DuckDB list_* lambdas). The hot
    * paths in this repo use native expressions instead (HOFs are
    * interpreted per element); this query covers the API itself.
    */
  def q46ArrayHof(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        expr("size(filter(w, x -> length(x) > 5))").as("n_long"),
        expr("aggregate(transform(w, x -> length(x)), 0, (a, b) -> a + b)").as("total_len"),
        // zip_with output flows into the result (count of positions where
        // a token equals its mirror) — a bare size() would equal len(w)
        // for any lambda and grade nothing
        expr("size(filter(zip_with(w, reverse(w), (a, b) -> a = b), x -> x))").as("n_mirror"),
        expr("array_max(transform(w, x -> length(x)))").as("max_len"))
      .orderBy(col("doc_id"))

  val q46Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_filter(w, x -> length(x) > 5)) AS INT) AS n_long,
      |  CAST(list_aggregate(list_transform(w, x -> CAST(length(x) AS INT)), 'sum') AS INT) AS total_len,
      |  CAST(len(list_filter(list_zip(w, list_reverse(w)), z -> z[1] = z[2])) AS INT) AS n_mirror,
      |  CAST(list_aggregate(list_transform(w, x -> CAST(length(x) AS INT)), 'max') AS INT) AS max_len
      |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Math function library — restricted to the IEEE-exact subset
    * (sqrt/abs/ceil/floor/sign/mod/greatest/least are identical on any
    * conforming platform; transcendentals like pow/exp are libm-
    * dependent and deliberately excluded from oracle checks).
    */
  def q47Math(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") < 300)
      .select(col("p_partkey"),
        sqrt(col("p_retailprice")).as("sqrt_price"),
        ceil(col("p_retailprice")).cast("long").as("ceil_price"),
        floor(col("p_retailprice")).cast("long").as("floor_price"),
        abs(col("p_size") - 25).cast("long").as("abs_off"),
        signum(col("p_size") - 25).cast("int").as("sign_off"),
        pmod(col("p_partkey"), lit(7L)).as("key_mod"),
        greatest(col("p_size").cast("long"), lit(10L)).as("size_floor10"),
        least(col("p_size").cast("long"), lit(40L)).as("size_cap40"))
      .orderBy(col("p_partkey"))

  val q47Sql: String =
    """SELECT p_partkey,
      |  sqrt(p_retailprice) AS sqrt_price,
      |  CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
      |  CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
      |  CAST(abs(p_size - 25) AS BIGINT) AS abs_off,
      |  CAST(sign(p_size - 25) AS INT) AS sign_off,
      |  p_partkey % 7 AS key_mod,
      |  greatest(CAST(p_size AS BIGINT), 10) AS size_floor10,
      |  least(CAST(p_size AS BIGINT), 40) AS size_cap40
      |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Explicit CROSS JOIN over two bounded dimensions (the degenerate
    * no-key join the reference's empty-key hash join accidentally
    * produced; here it is deliberate and broadcast).
    */
  def q48CrossJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "region")
      .crossJoin(broadcast(t(spark, dir, "nation")))
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") === col("n_regionkey")).cast("int").as("is_home"))
      .orderBy(col("r_name"), col("n_name"))

  val q48Sql: String =
    """SELECT r_name, n_name,
      |  CAST(r_regionkey = n_regionkey AS INT) AS is_home
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Ordered string aggregation: LISTAGG … WITHIN GROUP (Spark 4's ANSI
    * form; DuckDB spells it string_agg … ORDER BY). The ORDER BY inside
    * the aggregate is what makes the concatenation deterministic.
    */
  def q49Listagg(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("q49_nation")
    t(spark, dir, "region").createOrReplaceTempView("q49_region")
    spark.sql(
      """SELECT r_name, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
        |  COUNT(*) AS n
        |FROM q49_nation JOIN q49_region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  val q49Sql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  COUNT(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** LATERAL VIEW explode — the SQL-surface form of the token explode the
    * extension operators use through the DataFrame API: corpus token
    * frequency as one generator + aggregate.
    */
  def q50Lateral(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents").createOrReplaceTempView("q50_documents")
    spark.sql(
      """SELECT token, COUNT(*) AS n
        |FROM q50_documents LATERAL VIEW explode(split(text, ' ')) x AS token
        |GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin)
  }

  val q50Sql: String =
    """SELECT x.token, COUNT(*) AS n
      |FROM documents, UNNEST(string_split(text, ' ')) AS x(token)
      |GROUP BY x.token ORDER BY n DESC, token LIMIT 25""".stripMargin

  /** UNPIVOT (q28's inverse): wide per-flag aggregates back to tall
    * (metric, value) rows. The DuckDB oracle states the same relation as
    * the portable UNION ALL unpivot, pinning semantics rather than
    * syntax (rounded like every cross-engine double).
    */
  def q51Unpivot(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("q51_lineitem")
    spark.sql(
      """SELECT l_returnflag, metric, ROUND(v, 4) AS v FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_tax,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
        |  FROM q51_lineitem GROUP BY l_returnflag)
        |UNPIVOT (v FOR metric IN (sum_tax, sum_disc))
        |ORDER BY l_returnflag, metric""".stripMargin)
  }

  val q51Sql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_tax,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, ROUND(v, 4) AS v FROM (
      |  SELECT l_returnflag, 'sum_tax' AS metric, sum_tax AS v FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS v FROM wide)
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Recursive CTE (WITH RECURSIVE, new in Spark 4) — calendar
    * densification: generate every month between the first and last order
    * date, then left-join monthly order counts and revenue so gap months
    * surface as explicit zero rows instead of silently missing. The
    * recursion carries its own upper bound as a column (anchor cross-joins
    * the bounds row) because neither engine allows a scalar subquery in
    * the recursive member. Months render as strings — cross-engine DATE
    * columns don't hash-compare cleanly through pandas.
    */
  def q52RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("q52_orders")
    spark.sql(
      """WITH RECURSIVE months(m, hi) AS (
        |  SELECT trunc(MIN(o_orderdate), 'MM'), trunc(MAX(o_orderdate), 'MM')
        |  FROM q52_orders
        |  UNION ALL
        |  SELECT add_months(m, 1), hi FROM months WHERE m < hi)
        |SELECT date_format(m, 'yyyy-MM') AS month,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS revenue
        |FROM months LEFT JOIN q52_orders ON trunc(o_orderdate, 'MM') = m
        |GROUP BY m ORDER BY month""".stripMargin)
  }

  val q52Sql: String =
    """WITH RECURSIVE months(m, hi) AS (
      |  SELECT date_trunc('month', MIN(o_orderdate)), date_trunc('month', MAX(o_orderdate))
      |  FROM orders
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi)
      |SELECT strftime(m, '%Y-%m') AS month,
      |  COUNT(o_orderkey) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS revenue
      |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
      |GROUP BY m ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Co-located fact-fact join over BUCKETED tables
    * ([[graft.engine.Bucketing]]): orders and lineitem are hash-bucketed
    * and sorted on the order key at write time, so the join zips bucket i
    * with bucket i — a SortMergeJoin with no Exchange and no Sort on
    * either side — and the per-order aggregate reuses the same bucket
    * partitioning (o_orderkey ⊆ grouping keys ⇒ ClusteredDistribution
    * already satisfied), so the ONLY shuffle in the whole query is the
    * final ORDER BY. Pinned in PlanSpec. At 100 TB this converts the
    * dominant network cost of a repeated fact join into a local merge;
    * the once-off bucketed write (included in this query's cost) is the
    * price, amortized across every downstream join on the same key.
    * Results are layout-independent — the oracle is the plain join.
    */
  def q53BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oTab, lTab) = graft.engine.Bucketing.ensure(spark, dir)
    val o = spark.table(oTab)
    val l = spark.table(lTab)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .filter(col("n_items") >= 5)
      .orderBy(col("o_orderkey"))
  }

  val q53Sql: String =
    s"""SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_items,
      |  ${dsumSql("l_extendedprice")} AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_orderpriority
      |HAVING COUNT(*) >= 5
      |ORDER BY o_orderkey""".stripMargin

  /** Second consumer of the SAME bucketed layout — the query that makes
    * q53's amortization claim MEASURABLE instead of asserted.
    * [[graft.engine.Bucketing.ensure]] is idempotent per session, so in
    * a bench pass (alphabetical order) `q53_bucketed_join` pays the
    * one-off bucketed write + its join, this entry pays ONLY the
    * co-located join-read (same zero-Exchange zero-Sort SortMergeJoin),
    * and [[q53PlainJoin]] runs the identical logical query over the
    * unbucketed parquet as the comparator. The three timings decompose
    * the layout decision: write-once cost ≈ t(q53) − t(reuse); per-join
    * saving ≈ t(plain) − t(reuse); the layout wins after
    * write < N × saving joins. Results are layout-independent, so both
    * consumers grade against the same plain-SQL oracle.
    */
  def q53BucketedReuse(spark: SparkSession, dir: String): DataFrame = {
    val (oTab, lTab) = graft.engine.Bucketing.ensure(spark, dir)
    priorityRevenueOf(spark.table(oTab), spark.table(lTab))
  }

  /** The unbucketed twin of [[q53BucketedReuse]]: same logical query,
    * plain parquet scans, shuffle join on both sides — what every run
    * pays WITHOUT the layout investment.
    */
  def q53PlainJoin(spark: SparkSession, dir: String): DataFrame =
    priorityRevenueOf(t(spark, dir, "orders"), t(spark, dir, "lineitem"))

  private def priorityRevenueOf(o: DataFrame, l: DataFrame): DataFrame =
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))

  val q53ReuseSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
      |  ${dsumSql("l_extendedprice")} AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Robust statistics: median absolute deviation per group — the
    * outlier-resistant spread measure next to q43's moment sums (one
    * corrupted price moves stddev arbitrarily, MAD not at all).
    * Interpolation is quantile_cont's (identical double ops in identical
    * order → bit-exact vs the DuckDB oracle), applied twice — once over
    * values, once over |v − median| after a broadcast join of the k-row
    * median table. Each median is the two-phase bucket quantile of
    * [[bucketQuantilesOn]] — the rank-window form measured 6.5× at 10×
    * blowup (3-value partition key caps the sort at 3 tasks).
    */
  def q59Mad(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
    // med is k rows; staged so the deviation pass's two scans don't each
    // re-run the median plan buried in their lineage
    val med = graft.engine.Materialize.stage(
      bucketQuantilesOn(li, Seq(0.5 -> "med")))
    val dev = li.join(broadcast(med), "f")
      .select(col("f"), abs(col("x") - col("med")).as("x"))
    bucketQuantilesOn(dev, Seq(0.5 -> "mad"))
      .join(broadcast(med), "f")
      .select(col("f").as("l_returnflag"),
        round(col("med"), 6).as("median"), round(col("mad"), 6).as("mad"))
      .orderBy(col("l_returnflag"))
  }

  val q59Sql: String =
    """WITH med AS (
      |  SELECT l_returnflag AS f, quantile_cont(l_extendedprice, 0.5) AS med
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT l.l_returnflag AS f, m.med,
      |    abs(l.l_extendedprice - m.med) AS dev
      |  FROM lineitem l JOIN med m ON l.l_returnflag = m.f)
      |SELECT f AS l_returnflag, round(MAX(med), 6) AS median,
      |  round(quantile_cont(dev, 0.5), 6) AS mad
      |FROM d GROUP BY f ORDER BY f""".stripMargin

  // ---------------------------------------------------------------- q63
  /** EQUI-DEPTH histogram profile — the quantile-boundary twin of q54's
    * equi-width bins (optimizers and data-profilers want both: width
    * bins show shape, depth bins show where the mass actually sits and
    * give selectivity estimates with bounded per-bin error). Boundaries
    * are exact interpolated quartiles from the SAME two-phase bucket
    * quantile as q35/q59 ([[bucketQuantilesOn]] — histogram partial+final
    * agg, cumsum over O(buckets), never a data sort), broadcast back
    * over one scan for binning. Bit-exact vs quantile_cont, so the
    * per-bin counts and extrema hash-match.
    */
  def q63EquidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("x"))
    val qs = graft.engine.Materialize.stage(
      bucketQuantilesOn(li, Seq(0.25 -> "q1", 0.5 -> "q2", 0.75 -> "q3")))
    li.join(broadcast(qs), "f")
      .withColumn("bin",
        when(col("x") <= col("q1"), 1)
          .when(col("x") <= col("q2"), 2)
          .when(col("x") <= col("q3"), 3)
          .otherwise(4))
      .groupBy(col("f"), col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("x")), 6).as("lo"), round(max(col("x")), 6).as("hi"))
      .select(col("f").as("l_returnflag"), col("bin"), col("n"),
        col("lo"), col("hi"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  val q63Sql: String =
    """WITH q AS (
      |  SELECT l_returnflag AS f,
      |    quantile_cont(l_extendedprice, 0.25) AS q1,
      |    quantile_cont(l_extendedprice, 0.5) AS q2,
      |    quantile_cont(l_extendedprice, 0.75) AS q3
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT l.l_returnflag AS f, l.l_extendedprice AS x,
      |    CASE WHEN l.l_extendedprice <= q.q1 THEN 1
      |         WHEN l.l_extendedprice <= q.q2 THEN 2
      |         WHEN l.l_extendedprice <= q.q3 THEN 3
      |         ELSE 4 END AS bin
      |  FROM lineitem l JOIN q ON l.l_returnflag = q.f)
      |SELECT f AS l_returnflag, bin, COUNT(*) AS n,
      |  round(MIN(x), 6) AS lo, round(MAX(x), 6) AS hi
      |FROM b GROUP BY f, bin ORDER BY l_returnflag, bin""".stripMargin

  // ---------------------------------------------------------------- maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_approx_pctl_bound" -> (q61ApproxPctlBound _),
    "q59_mad" -> (q59Mad _),
    "q53_bucketed_join" -> (q53BucketedJoin _),
    "q53_bucketed_reuse" -> (q53BucketedReuse _),
    "q53_plain_join" -> (q53PlainJoin _),
    "q50_lateral" -> (q50Lateral _),
    "q51_unpivot" -> (q51Unpivot _),
    "q52_recursive_cte" -> (q52RecursiveCte _),
    "q21_approx_ndv" -> (q21ApproxNdv _),
    "q22_asof_join" -> (q22AsofJoin _),
    "q23_deterministic_sample" -> (q23DeterministicSample _),
    "q24_cube" -> (q24Cube _),
    "q25_intersect_except" -> (q25IntersectExcept _),
    "q26_asof_native" -> (q26AsofNative _),
    "q62_asof_tolerance" -> (q62AsofTolerance _),
    "q68_asof_forward" -> (q68AsofForward _),
    "q69_asof_nearest" -> (q69AsofNearest _),
    "q63_equidepth_hist" -> (q63EquidepthHist _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_filter_project" -> (q2FilterProject _),
    "q3_top_revenue" -> (q3TopRevenue _),
    "q4_topk" -> (q4TopK _),
    "q5_global_agg" -> (q5GlobalAgg _),
    "q6_expressions" -> (q6Expressions _),
    "q7_having" -> (q7Having _),
    "q8_star_join" -> (q8StarJoin _),
    "q9_multi_sort" -> (q9MultiSort _),
    "q10_distinct" -> (q10Distinct _),
    "q11_predicates" -> (q11Predicates _),
    "q12_revenue_by_month" -> (q12RevenueByMonth _),
    "q13_string_funcs" -> (q13StringFuncs _),
    "q14_set_ops" -> (q14SetOps _),
    "q15_window_topn" -> (q15WindowTopN _),
    "q16_semi_join" -> (q16SemiJoin _),
    "q17_anti_join" -> (q17AntiJoin _),
    "q18_outer_join" -> (q18OuterJoin _),
    "q19_rollup" -> (q19Rollup _),
    "q20_scalar_subquery" -> (q20ScalarSubquery _),
    "q27_topk_per_key" -> (q27TopkPerKey _),
    "q28_pivot" -> (q28Pivot _),
    "q29_exists" -> (q29Exists _),
    "q30_range_join" -> (q30RangeJoin _),
    "q31_array_funcs" -> (q31ArrayFuncs _),
    "q32_grouping_sets" -> (q32GroupingSets _),
    "q33_window_analytics" -> (q33WindowAnalytics _),
    "q34_filtered_agg" -> (q34FilteredAgg _),
    "q35_percentiles" -> (q35Percentiles _),
    "q36_json" -> (q36Json _),
    "q37_datetime" -> (q37Datetime _),
    "q38_string_ops" -> (q38StringOps _),
    "q39_salted_join" -> (q39SaltedJoin _),
    "q40_range_frame" -> (q40RangeFrame _),
    "q41_full_outer" -> (q41FullOuter _),
    "q42_asof_left" -> (q42AsofLeft _),
    "q43_moments" -> (q43Moments _),
    "q44_retention" -> (q44Retention _),
    "q45_value_windows" -> (q45ValueWindows _),
    "q46_array_hof" -> (q46ArrayHof _),
    "q47_math" -> (q47Math _),
    "q48_cross_join" -> (q48CrossJoin _),
    "q49_listagg" -> (q49Listagg _))

  val oracles: Map[String, String] = Map(
    "q61_approx_pctl_bound" -> q61Sql,
    "q59_mad" -> q59Sql,
    "q21_approx_ndv" -> q21Sql,
    "q22_asof_join" -> q22Sql,
    "q26_asof_native" -> q22Sql, // the native operator answers the same oracle
    "q62_asof_tolerance" -> q62Sql,
    "q68_asof_forward" -> q68Sql,
    "q69_asof_nearest" -> q69Sql,
    "q63_equidepth_hist" -> q63Sql,
    "q23_deterministic_sample" -> q23Sql,
    "q24_cube" -> q24Sql,
    "q25_intersect_except" -> q25Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project" -> q2Sql,
    "q3_top_revenue" -> q3Sql,
    "q4_topk" -> q4Sql,
    "q5_global_agg" -> q5Sql,
    "q6_expressions" -> q6Sql,
    "q7_having" -> q7Sql,
    "q8_star_join" -> q8Sql,
    "q9_multi_sort" -> q9Sql,
    "q10_distinct" -> q10Sql,
    "q11_predicates" -> q11Sql,
    "q12_revenue_by_month" -> q12Sql,
    "q13_string_funcs" -> q13Sql,
    "q14_set_ops" -> q14Sql,
    "q15_window_topn" -> q15Sql,
    "q16_semi_join" -> q16Sql,
    "q17_anti_join" -> q17Sql,
    "q18_outer_join" -> q18Sql,
    "q19_rollup" -> q19Sql,
    "q20_scalar_subquery" -> q20Sql,
    "q27_topk_per_key" -> q27Sql,
    "q28_pivot" -> q28Sql,
    "q29_exists" -> q29Sql,
    "q30_range_join" -> q30Sql,
    "q31_array_funcs" -> q31Sql,
    "q32_grouping_sets" -> q32Sql,
    "q33_window_analytics" -> q33Sql,
    "q34_filtered_agg" -> q34Sql,
    "q35_percentiles" -> q35Sql,
    "q36_json" -> q36Sql,
    "q37_datetime" -> q37Sql,
    "q38_string_ops" -> q38Sql,
    "q39_salted_join" -> q39Sql,
    "q40_range_frame" -> q40Sql,
    "q41_full_outer" -> q41Sql,
    "q42_asof_left" -> q42Sql,
    "q43_moments" -> q43Sql,
    "q44_retention" -> q44Sql,
    "q45_value_windows" -> q45Sql,
    "q46_array_hof" -> q46Sql,
    "q47_math" -> q47Sql,
    "q48_cross_join" -> q48Sql,
    "q49_listagg" -> q49Sql,
    "q50_lateral" -> q50Sql,
    "q51_unpivot" -> q51Sql,
    "q52_recursive_cte" -> q52Sql,
    "q53_bucketed_join" -> q53Sql,
    "q53_bucketed_reuse" -> q53ReuseSql,
    "q53_plain_join" -> q53ReuseSql)
}
