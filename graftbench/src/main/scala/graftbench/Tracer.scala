package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a benchmark op or one public call inside it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** In-memory span recorder plus Spark listeners, all from outside the
  * library: spans wrap public graft calls made by the benchmark, and the
  * `SparkListener` / `QueryExecutionListener` events are attributed to the
  * innermost span open when they started. Recording is off unless
  * `enabled`, so untraced ops only pay for the listener dispatch.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, currentOp,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try f
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** A top-level op span; its index keys the per-op aggregates. */
  def op[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      currentOp = spans.size
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      try span(name)(f)
      finally {
        opJvm(currentOp) = (heap.map(_.getPeakUsage.getUsed).sum / 1e6, (gcMs - gc0) / 1e3)
        currentOp = -1
      }
    }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Per op: heap peak (MB) and GC seconds, from the JVM's MXBeans. */
  val opJvm = mutable.Map.empty[Int, (Double, Double)]

  // ---- listener events (appended from the listener-bus thread) ----
  final case class Job(id: Int, startMs: Long, var endMs: Long, callSite: String,
      sqlExecution: Option[String], stages: Seq[Int])
  final case class Task(stageId: Int, cpuNs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spillDisk: Long, readBytes: Long,
      readRows: Long, writeBytes: Long, writeRows: Long)
  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  final case class Blocks(timeMs: Long, bytes: Long, count: Int)

  /** Jobs started since the tracer was built, traced or not. */
  val jobCount = new java.util.concurrent.atomic.AtomicInteger()
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val submittedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val blockSamples = new ConcurrentLinkedQueue[Blocks]()
  private val liveBlocks = mutable.Map.empty[String, Long]

  private val DrainKey = "graftbench_drain"
  private val drainJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile private var drainToken = ""
  @volatile private var drainedJob = ""
  @volatile private var drainedQe = ""
  private var drains = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop(DrainKey) match {
        case Some(token) => drainJobs.put(e.jobId, token)
        case None =>
          jobCount.incrementAndGet()
          if (enabled) {
            // The job's call site: the first graft frame of the stack
            // Spark records in the result stage's details.
            val site = e.stageInfos.sortBy(-_.stageId).headOption.iterator
              .flatMap(_.details.linesIterator).find(_.trim.startsWith("graft"))
              .getOrElse("")
            val j = Job(e.jobId, e.time, -1L, site, prop("spark.sql.execution.id"), e.stageIds)
            jobById.put(e.jobId, j); jobs.add(j)
          }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(drainJobs.remove(e.jobId)).foreach(t => drainedJob = t)
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (enabled) submittedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.stageId, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      liveBlocks.synchronized {
        if (size > 0 && b.storageLevel.isValid) liveBlocks(b.blockId.name) = size
        else liveBlocks.remove(b.blockId.name)
        blockSamples.add(Blocks(System.currentTimeMillis(), liveBlocks.values.sum,
          liveBlocks.size))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (qe.logical.toString.contains(DrainKey)) drainedQe = drainToken
      else if (enabled) {
        val p = qe.tracker.phases
        def ms(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
        val start =
          if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
        phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until every event posted so far has been delivered: run a
    * marked one-row query and wait until both listeners have seen it (each
    * listener queue delivers in order). Counts read before the bus drains
    * come out short by a job or two. Marker events are never recorded.
    */
  def drain(): Unit = {
    drains += 1
    drainToken = s"$DrainKey$drains"
    val sc = spark.sparkContext
    sc.setLocalProperty(DrainKey, drainToken)
    try spark.range(1).selectExpr(s"'$drainToken' AS $DrainKey").collect()
    finally sc.setLocalProperty(DrainKey, null)
    val deadline = System.nanoTime() + 60000000000L
    while ((drainedJob != drainToken || drainedQe != drainToken) &&
        System.nanoTime() < deadline) Thread.sleep(1)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
