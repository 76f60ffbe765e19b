package graft

import org.apache.spark.sql.Row

/** Ports of the reference's end-to-end execution tests
  * (/root/reference/tests/test_execution.cpp:127-270, fixtures per
  * FIXTURES.md §1a) expressed against spark.sql, plus smoke checks of the
  * Core query set on the sf0.001 parquet data.
  */
class CoreQueriesSpec extends SparkSpecBase {

  private def fixtures(): Unit = {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "qty")
      .createOrReplaceTempView("orders_t")
    Seq((1L, "north"), (2L, "south"), (4L, "west")).toDF("id", "region")
      .createOrReplaceTempView("detail_t")
  }

  test("filter: qty > 15 (test_execution.cpp:127-138)") {
    fixtures()
    val rows = spark.sql("SELECT id FROM orders_t WHERE qty > 15 ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("expression projection: qty * 2 AS double_qty (:140-153)") {
    fixtures()
    val rows = spark.sql("SELECT id, qty * 2 AS double_qty FROM orders_t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 20L), (2L, 40L), (3L, 60L)))
  }

  test("limit (:155-166)") {
    fixtures()
    assert(spark.sql("SELECT id FROM orders_t ORDER BY id LIMIT 2").count() == 2)
  }

  test("inner hash join (:168-185)") {
    fixtures()
    val rows = spark.sql(
      """SELECT o.id, d.region FROM orders_t o JOIN detail_t d ON o.id = d.id
        |ORDER BY o.id""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "north"), (2L, "south")))
  }

  test("join + group by + sum (:187-208)") {
    fixtures()
    val rows = spark.sql(
      """SELECT d.region, SUM(o.qty) AS total
        |FROM orders_t o JOIN detail_t d ON o.id = d.id
        |GROUP BY d.region ORDER BY d.region""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("north", 10L), ("south", 20L)))
  }

  test("global COUNT(*) (:210-225)") {
    fixtures()
    val rows = spark.sql("SELECT COUNT(*) FROM orders_t").collect()
    assert(rows.head.getLong(0) == 3L)
  }

  test("order by desc + limit = top-1 (:227-252)") {
    fixtures()
    val rows = spark.sql(
      "SELECT id, qty FROM orders_t ORDER BY qty DESC LIMIT 1").collect()
    assert(rows.head.getLong(0) == 3L && rows.head.getLong(1) == 30L)
  }

  test("complex: join+group+order+limit top region (:254-270)") {
    fixtures()
    val rows = spark.sql(
      """SELECT d.region, SUM(o.qty) AS total
        |FROM orders_t o JOIN detail_t d ON o.id = d.id
        |GROUP BY d.region ORDER BY total DESC LIMIT 1""".stripMargin).collect()
    assert(rows.head.getString(0) == "south" && rows.head.getLong(1) == 20L)
  }

  test("all Core queries execute and return rows on sf0.001") {
    graft.queries.Core.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // EVERY query is oracle-checked — including the formerly rows-only
    // pair: sim_ann_ivf's coarse quantizer is the deterministic
    // fixed-point KMeans loop (replayed as unrolled CTEs), and
    // q21_approx_ndv grades the HLL sketch by its 5% error bound
    assert(noOracle == Set.empty[String])
  }

  test("q59 MAD: window-interpolated medians equal Spark's exact percentile()") {
    import org.apache.spark.sql.functions._
    // independent cross-check: Spark's own exact `percentile` aggregate
    // (a different implementation than the q35-style rank windows q59
    // uses) must agree on both the median and the deviation median
    val got = graft.queries.Core.q59Mad(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val li = graft.engine.Tables.load(spark, sf(), "lineitem")
      .select(col("l_returnflag").as("f"), col("l_extendedprice").as("v"))
    val med = li.groupBy("f").agg(expr("percentile(v, 0.5)").as("med"))
    val want = li.join(med, "f")
      .select(col("f"), col("med"), abs(col("v") - col("med")).as("dev"))
      .groupBy("f").agg(round(max(col("med")), 6).as("median"),
        round(expr("percentile(dev, 0.5)"), 6).as("mad"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == want, s"q59 $got vs percentile() $want")
    // MAD is strictly positive and below the (mean-sensitive) stddev
    assert(got.values.forall { case (m, d) => d > 0 && m > 0 })
  }

  test("UDF surface: spark.udf.register works (native expressions preferred)") {
    import spark.implicits._
    // the library's own functions are native Expressions (codegen'd, no
    // serialization); plain Scala UDFs remain available for user logic —
    // registered here to pin the surface
    spark.udf.register("graft_clip", (x: Double, lo: Double, hi: Double) =>
      math.max(lo, math.min(hi, x)))
    val r = Seq(0.5, 2.0, -3.0).toDF("x")
      .selectExpr("graft_clip(x, -1.0, 1.0) AS c").collect().map(_.getDouble(0)).toSet
    assert(r == Set(0.5, 1.0, -1.0))
  }

  test("topk_by aggregate: ordering, ties, short groups (TopKByAgg)") {
    import spark.implicits._
    Seq(
      (1L, 5.0, 10L), (1L, 7.0, 11L), (1L, 7.0, 9L), (1L, 1.0, 12L), (1L, 6.0, 13L),
      (2L, 3.0, 20L)) // group 2 has fewer rows than k
      .toDF("k", "ord", "id").createOrReplaceTempView("topk_t")
    val rows = spark.sql(
      """SELECT k, x.ord AS ord, x.id AS id
        |FROM (SELECT k, topk_by(ord, id, 3) AS top FROM topk_t GROUP BY k)
        |LATERAL VIEW explode(top) AS x ORDER BY k, ord DESC, id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    // ties on ord=7.0 break by id asc: 9 before 11; worst kept is 6.0
    assert(rows == List((1L, 7.0, 9L), (1L, 7.0, 11L), (1L, 6.0, 13L), (2L, 3.0, 20L)))
  }

  test("topk_by heap buffer equals window row_number at large k across partitions") {
    import spark.implicits._
    // 5k rows, 2 keys, shuffled across 4 partitions; k = 2000 exercises
    // lazy array growth, sift paths, and partial/final merge + ser/de
    val df = (0 until 5000)
      .map(i => (i % 2, (i * 2654435761L % 9973).toDouble, i.toLong))
      .toDF("k", "ord", "id").repartition(4)
    df.createOrReplaceTempView("topk_big")
    val agg = spark.sql(
      """SELECT k, x.ord AS ord, x.id AS id
        |FROM (SELECT k, topk_by(ord, id, 2000) AS top FROM topk_big GROUP BY k)
        |LATERAL VIEW explode(top) AS x""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val win = spark.sql(
      """SELECT k, ord, id FROM (
        |  SELECT k, ord, id,
        |    row_number() OVER (PARTITION BY k ORDER BY ord DESC, id) AS rn
        |  FROM topk_big) WHERE rn <= 2000""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(agg == win)
  }

  test("topk_by null k literal gets a dedicated error") {
    val e = intercept[Exception](
      spark.sql("SELECT topk_by(cast(1.0 as double), 1L, cast(null as int))").collect())
    assert(e.getMessage.contains("non-null literal int"))
  }

  test("q52 recursive CTE equals sequence() calendar densification") {
    // the only query with no dedicated pin (VERDICT r9): check the
    // WITH RECURSIVE month generator against Spark's closed-form
    // sequence() over the same span — same months, same counts, and
    // gap months present as explicit zeros
    import org.apache.spark.sql.functions._
    val got = graft.queries.Core.q52RecursiveCte(spark, sf())
    val orders = spark.read.parquet(s"${sf()}/orders.parquet")
      .withColumn("m", trunc(col("o_orderdate"), "MM"))
    val expected = orders
      .agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 month)")).as("m"))
      .join(orders, Seq("m"), "left")
      .groupBy(date_format(col("m"), "yyyy-MM").as("month"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .select(col("month"), col("n_orders"),
        coalesce(col("rev"), lit(0)).cast("double").as("revenue"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }
}
