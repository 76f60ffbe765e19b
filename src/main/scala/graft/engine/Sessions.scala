package graft.engine

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place graft builds a SparkSession: Bench, Verify, the REPL,
  * the Diag tools and the test suites all start here, so every session
  * carries the same settings and the same extensions.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]`, one shuffle partition per core, UTC, no UI, AQE on. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true")

  /** Build (or join) the JVM's session from [[settings]] and install
    * graft's extensions on it. `master` replaces the local master, for a
    * deployment that runs against a cluster.
    */
  def create(master: Option[String] = None): SparkSession = {
    val conf = settings(cpus()) ++ master.map("spark.master" -> _)
    val spark = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
