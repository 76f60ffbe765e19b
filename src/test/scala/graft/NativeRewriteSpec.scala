package graft

import org.apache.spark.sql.functions._

import graft.plans.NativeTextRewriteRule

/** The HOF→native optimizer rewrite: plain-Spark `size(filter(...))` /
  * `aggregate(...)` text patterns silently become the codegen
  * count_in_set / sum_strlen expressions, with exact semantics.
  */
class NativeRewriteSpec extends SparkSpecBase {

  private def docsW() = graft.engine.Tables.load(spark, sf(), "documents")
    .withColumn("w", split(col("text"), " "))

  test("size(filter(array_contains)) rewrites to count_in_set in the optimized plan") {
    val df = docsW().select(
      expr("size(filter(w, x -> array_contains(array('the','a','of','and','to'), x)))").as("n"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("count_in_set"), p.take(800))
    assert(!p.contains("array_contains"), p.take(800))
  }

  test("aggregate(acc + length(x)) rewrites to sum_strlen in the optimized plan") {
    val df = docsW().select(
      expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("s"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("sum_strlen"), p.take(800))
  }

  test("rewritten results equal the flag-off interpreted results") {
    def run(): Array[(Int, Int, Int)] = docsW().select(
        expr("size(filter(w, x -> array_contains(array('the','a','of','and','to'), x)))").as("n"),
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("s"),
        expr("size(filter(array_distinct(w), x -> array_contains(array('the','a','of','and','to'), x)))")
          .as("gopher_nstop"))
      .orderBy(col("n"), col("s"), col("gopher_nstop"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val native = run()
    spark.conf.set(NativeTextRewriteRule.FlagKey, "false")
    val interpreted = try run() finally spark.conf.unset(NativeTextRewriteRule.FlagKey)
    assert(native.sameElements(interpreted))
  }

  test("null-element arrays: rewrite preserves the aggregate fold-poisoning NULL (ADVICE r3)") {
    // containsNull = true arrays, one with a null element (→ NULL sum, like
    // aggregate), one without (→ real sum), plus a null array (→ NULL).
    // Derived from range() so ConvertToLocalRelation can't pre-fold the
    // pattern away before extraOptimizations run.
    val df = spark.range(1, 4).select(col("id").cast("int").as("id"),
      when(col("id") === 1, array(lit("ab"), lit(null).cast("string"), lit("c")))
        .when(col("id") === 2, array(lit("ab"), lit("cde")))
        .as("w"))
    def run(): Seq[(Int, Option[Int])] = {
      val out = df.select(col("id"), expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("s"))
      out.orderBy("id").collect().toSeq
        .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    }
    // the rewrite must fire for containsNull arrays AND stay exact
    val p = df.select(expr("aggregate(w, 0, (acc, x) -> acc + length(x))"))
      .queryExecution.optimizedPlan.toString
    assert(p.contains("sum_strlen"), p.take(500))
    val native = run()
    spark.conf.set(NativeTextRewriteRule.FlagKey, "false")
    val interpreted = try run() finally spark.conf.unset(NativeTextRewriteRule.FlagKey)
    assert(native == interpreted, s"$native vs $interpreted")
    assert(native == Seq((1, None), (2, Some(5)), (3, None)))
  }

  test("guards: non-literal set, captured variable, and non-string arrays pass through") {
    import spark.implicits._
    val df = Seq((Seq("a", "b"), Seq("a"))).toDF("w", "s")
    // set is a column, not foldable → no rewrite
    val p1 = df.select(expr("size(filter(w, x -> array_contains(s, x)))"))
      .queryExecution.optimizedPlan.toString
    assert(!p1.contains("count_in_set"), p1.take(500))
    // int arrays → no rewrite (sum_strlen is strings-only)
    val di = Seq(Seq(1, 22)).toDF("a")
    val p2 = di.select(expr("aggregate(a, 0, (acc, x) -> acc + length(cast(x as string)))"))
      .queryExecution.optimizedPlan.toString
    assert(!p2.contains("sum_strlen"), p2.take(500))
  }
}
