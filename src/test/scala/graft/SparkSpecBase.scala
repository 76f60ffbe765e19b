package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One JVM-wide [[graft.engine.Sessions]] session for every spec. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = graft.engine.Sessions.create()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
