package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.internal.SQLConf

import graft.engine.Sessions
import graft.plans._

/** Every session graft builds carries the same settings and extensions. */
class SessionsSpec extends SparkSpecBase {

  test("every function resolves, and each rule and the as-of strategy are installed once, however often register runs") {
    val fresh = spark.newSession() // a session graft did not build
    Seq(spark, fresh, fresh).foreach(GraftExtensions.register)
    for (s <- Seq(spark, fresh)) {
      GraftExtensions.functions.foreach(f => assert(s.catalog.functionExists(f._1.funcName), f._1))
      GraftExtensions.rules.foreach(r => assert(s.experimental.extraOptimizations.count(_ eq r) == 1, r))
      assert(s.experimental.extraStrategies.count(_ eq AsofJoinStrategy) == 1)
    }
  }

  test("the injector class installs the same lists as register") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Any]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = seen += f._1.funcName
      override def injectOptimizerRule(b: RuleBuilder): Unit = seen += b(spark)
      override def injectPlannerStrategy(b: StrategyBuilder): Unit = seen += b(spark)
    })
    assert(seen.toSeq == GraftExtensions.functions.map(_._1.funcName) ++
      GraftExtensions.rules ++ GraftExtensions.strategies)
    assert(GraftExtensions.rules == Seq(ApproxNdvRule, ApproxPercentileRule, NativeTextRewriteRule, MvRewriteRule))
  }

  test("Bench and Verify keep their session settings under SPARK_GRAFT_CPUS=4") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true), "Verify left AQE at Spark's default")
    assert(Sessions.settings(Sessions.cpus(Map("SPARK_GRAFT_CPUS" -> "4"))) == Seq(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false", "spark.sql.adaptive.enabled" -> "true"))
    Sessions.settings(Sessions.cpus()).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("Repl.session(): spark.graft.approxPercentile=true plans an ApproximatePercentile") {
    val s = graft.cli.Repl.session()
    s.conf.set(ApproxPercentileRule.FlagKey, "true")
    val plan = try s.sql("SELECT percentile(CAST(id AS DOUBLE), 0.5) FROM range(100)")
      .queryExecution.optimizedPlan finally s.conf.unset(ApproxPercentileRule.FlagKey)
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ApproximatePercentile]))), plan)
  }
}
