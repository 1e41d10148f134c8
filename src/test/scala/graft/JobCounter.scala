package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for job-budget pins. Listener events arrive
  * asynchronously, so after `body` a marker job runs and the count is read
  * once the listener has seen the marker's start: one listener's events
  * are delivered in order, so every job `body` launched has been counted.
  *
  * Broadcast builds are not counted: AQE launches them from its own
  * threads alongside the other query stages, and how many run depends on
  * timing (identical runs of `CliSpec`'s round trip ran 28 to 30 of them,
  * while every other job count stayed the same).
  */
object JobCounter {
  private val MarkerKey = "graft.test.jobMarker"

  private def prop(j: SparkListenerJobStart, key: String): Option[String] =
    Option(j.properties).flatMap(p => Option(p.getProperty(key)))

  /** `body`'s result and the number of Spark jobs it launched, broadcast
    * builds aside. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (prop(j, MarkerKey).contains(marker)) seen.countDown()
        else if (!prop(j, "spark.job.tags").exists(_.contains("broadcast exchange")))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(seen.await(60, TimeUnit.SECONDS), "marker job start never delivered")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
