package graft

import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for job-budget pins: [[graft.tools.Ledger.measure]]'s
  * count, broadcast builds aside (their number depends on timing).
  */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, cost) = graft.tools.Ledger.measure(spark)(body)
    (out, cost.jobs - cost.broadcastJobs)
  }
}
