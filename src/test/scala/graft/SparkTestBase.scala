package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (cuts test wall-clock). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = LocalSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
