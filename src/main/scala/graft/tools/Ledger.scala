package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.JsonOut.q

/** Per-query cost ledger: runs registered queries and writes one JSON line
  * per query with its cost in every layer — wall time, Catalyst phase
  * times, jobs/stages/tasks and the driver gap between jobs, executor CPU,
  * GC, shuffle and spill (in total and per stage call site), and the
  * `Materialize` artifacts the query computed. Field names are the
  * per-layer metric names of `BENCHMARK.json`, so a ledger line and a
  * graftbench trace compare field by field. With `--explain <dir>` it also
  * writes the final formatted (AQE) plan of every query execution, the
  * materialized compute frames' writes included. A query's own terminal
  * action is the `count at Ledger.scala` site.
  *
  * Usage: runMain graft.tools.Ledger <sfDir> <out.json> [--explain <dir>] <query...|all>
  * A conf A/B runs through Spark's system properties, e.g.
  * `-Dspark.sql.adaptive.enabled=false`.
  */
object Ledger {
  private val MarkerKey = "graft.ledger.marker"
  private val MB = 1024.0 * 1024.0

  final class Site {
    var stages = 0
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
  }

  /** What the listeners saw between the two marker jobs of one
    * [[measure]]. Written on the listener-bus thread only, read after the
    * closing marker has been delivered.
    */
  final class Costs {
    var wallNs = 0L
    var executions = 0
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var jobs = 0
    /** Broadcast builds, a subset of `jobs`: AQE launches them from its own
      * threads alongside the other query stages, and how many run depends
      * on timing (identical CLI round trips ran 28 to 30 of them while
      * every other job count stayed the same).
      */
    var broadcastJobs = 0
    val jobSpans = mutable.Map.empty[Int, (Long, Long)]
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val sites = mutable.Map.empty[String, Site]
    val plans = mutable.Buffer.empty[QueryExecution]

    /** Milliseconds in which at least one job ran: the union of job spans. */
    def busyMs: Long = {
      var busy = 0L
      var s0 = -1L
      var e0 = -1L
      jobSpans.values.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > e0) {
          busy += e0 - s0
          s0 = s
          e0 = e
        } else e0 = math.max(e0, e)
      }
      busy + e0 - s0
    }
  }

  /** The one listener pair. Both ride Spark's shared listener queue, whose
    * single thread delivers every event to every listener in posting
    * order, so the `on` window the marker jobs open and close holds for
    * the SQL callbacks too.
    */
  private final class Recorder(keepPlans: Boolean) extends SparkListener {
    private val token = java.util.UUID.randomUUID().toString
    private val seen = Map("start" -> new CountDownLatch(1), "end" -> new CountDownLatch(1))
    private var on = false
    private val markerStages = mutable.Set.empty[Int]
    private val executionSite = mutable.Map.empty[String, String]
    /** Stage id to call site. */
    private val siteOf = mutable.Map.empty[Int, String]
    val costs = new Costs

    private def prop(j: SparkListenerJobStart, key: String): Option[String] =
      Option(j.properties).flatMap(p => Option(p.getProperty(key)))

    override def onJobStart(j: SparkListenerJobStart): Unit =
      prop(j, MarkerKey).filter(_.startsWith(token)) match {
        case Some(m) =>
          on = m.endsWith(":start")
          markerStages ++= j.stageIds
          seen(m.drop(token.length + 1)).countDown()
        case None if on =>
          costs.jobs += 1
          if (prop(j, "spark.job.tags").exists(_.contains("broadcast exchange")))
            costs.broadcastJobs += 1
          costs.jobSpans(j.jobId) = (j.time, j.time)
          prop(j, "spark.sql.execution.id").flatMap(executionSite.get)
            .foreach(site => j.stageIds.foreach(siteOf(_) = site))
        case None => ()
      }

    /** A SQL execution's call site. AQE submits its query stages from its
      * own threads, so their stage names all read
      * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`; the
      * stages of a SQL execution's jobs take its call site instead.
      */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        executionSite(s.executionId.toString) = s.description.takeWhile(_ != '\n')
      case _ => ()
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (on) costs.jobSpans.get(j.jobId).foreach { case (s, _) =>
        costs.jobSpans(j.jobId) = (s, math.max(s, j.time))
      }

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (on && !markerStages(s.stageInfo.stageId)) {
        val site = siteOf.getOrElseUpdate(s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n'))
        costs.stages += 1
        costs.sites.getOrElseUpdate(site, new Site).stages += 1
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (on) siteOf.get(t.stageId).foreach { site =>
        costs.tasks += 1
        Option(t.taskMetrics).foreach { m =>
          val read = m.shuffleReadMetrics.totalBytesRead
          val write = m.shuffleWriteMetrics.bytesWritten
          costs.cpuNs += m.executorCpuTime
          costs.runMs += m.executorRunTime
          costs.gcMs += m.jvmGCTime
          costs.shuffleRead += read
          costs.shuffleWrite += write
          costs.spill += m.diskBytesSpilled
          val st = costs.sites.getOrElseUpdate(site, new Site)
          st.cpuNs += m.executorCpuTime
          st.shuffleRead += read
          st.shuffleWrite += write
        }
      }

    val sql: QueryExecutionListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = if (on) {
        costs.executions += 1
        qe.tracker.phases.foreach { case (p, s) => costs.phaseMs(p) += s.endTimeMs - s.startTimeMs }
        if (keepPlans) costs.plans += qe
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }

    /** Run a one-task marker job and wait until this listener has seen it:
      * every event posted before it has then been delivered, so counts are
      * exact without a sleep.
      */
    def mark(sc: SparkContext, which: String): Unit = {
      sc.setLocalProperty(MarkerKey, s"$token:$which")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(seen(which).await(60, TimeUnit.SECONDS), s"ledger $which marker never delivered")
    }
  }

  /** `body`'s result and what it cost. With `keepPlans`, the costs hold
    * every query execution `body` ran.
    */
  def measure[T](spark: SparkSession, keepPlans: Boolean = false)(body: => T): (T, Costs) = {
    val r = new Recorder(keepPlans)
    val sc = spark.sparkContext
    sc.addSparkListener(r)
    spark.listenerManager.register(r.sql)
    try {
      r.mark(sc, "start")
      val t0 = System.nanoTime()
      val out = body
      r.costs.wallNs = System.nanoTime() - t0
      r.mark(sc, "end")
      (out, r.costs)
    } finally {
      spark.listenerManager.unregister(r.sql)
      sc.removeSparkListener(r)
    }
  }

  private def line(query: String, rows: Try[Long], c: Costs, computed: Seq[String]): String = {
    def s(ns: Long) = f"${ns / 1e9}%.3f"
    def ms(v: Long) = f"${v / 1e3}%.3f"
    def mb(b: Long) = f"${b / MB}%.3f"
    val fields = Seq(
      "query" -> q(query),
      rows.fold(e => "error" -> q(String.valueOf(e.getMessage)), n => "rows" -> n.toString),
      "wall_s" -> s(c.wallNs),
      "plan.executions" -> c.executions.toString,
      "plan.analysis_s" -> ms(c.phaseMs("analysis")),
      "plan.optimization_s" -> ms(c.phaseMs("optimization")),
      "plan.planning_s" -> ms(c.phaseMs("planning")),
      "sched.jobs" -> c.jobs.toString,
      "sched.jobs.broadcast" -> c.broadcastJobs.toString,
      "sched.stages" -> c.stages.toString,
      "sched.tasks" -> c.tasks.toString,
      "sched.job_busy_s" -> ms(c.busyMs),
      "sched.driver_gap_s" -> s(math.max(0L, c.wallNs - c.busyMs * 1000000L)),
      "exec.cpu_s" -> s(c.cpuNs),
      "exec.run_s" -> ms(c.runMs),
      "exec.gc_s" -> ms(c.gcMs),
      "shuffle.read_mb" -> mb(c.shuffleRead),
      "shuffle.write_mb" -> mb(c.shuffleWrite),
      "spill.mb" -> mb(c.spill),
      "materialized" -> computed.map(q).mkString("[", ",", "]"),
      "sites" -> c.sites.toSeq.sortBy(-_._2.cpuNs).map { case (site, st) =>
        s"${q(site)}:{" + s""""sched.stages":${st.stages},"exec.cpu_s":${s(st.cpuNs)},""" +
          s""""shuffle.read_mb":${mb(st.shuffleRead)},"shuffle.write_mb":${mb(st.shuffleWrite)}}"""
      }.mkString("{", ",", "}"))
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Run `names` one after another as the bench does (storage released
    * after each, `Materialize` artifacts kept), appending each query's line
    * to `out` as it finishes. Returns the lines.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], out: Path,
      explainDir: Option[Path] = None): Seq[String] = {
    explainDir.foreach(Files.createDirectories(_))
    val w = Files.newBufferedWriter(out)
    try names.map { name =>
      val before = graft.core.Materialize.computedKeys(spark)
      val (rows, c) = measure(spark, explainDir.isDefined) {
        Try(graft.SparkEntry.queries(name)(spark, sfDir).count())
      }
      val computed = (graft.core.Materialize.computedKeys(spark) -- before).toSeq.sorted
      explainDir.foreach { d =>
        c.plans.zipWithIndex.foreach { case (qe, i) =>
          Files.writeString(d.resolve(f"$name.${i + 1}%03d.txt"),
            Try(qe.explainString(ExplainMode.fromString("formatted")))
              .fold(e => s"explain failed: $e\n", identity))
        }
      }
      graft.core.Lineage.releaseAllStorage(spark)
      val l = line(name, rows, c, computed)
      w.write(l)
      w.newLine()
      w.flush()
      l
    } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val explainAt = args.indexOf("--explain")
    val explainDir = if (explainAt < 0) None else args.lift(explainAt + 1).map(Paths.get(_))
    val rest = if (explainAt < 0) args.toSeq else args.patch(explainAt, Nil, 2).toSeq
    if (rest.length < 3 || (explainAt >= 0 && explainDir.isEmpty)) {
      System.err.println("usage: graft.tools.Ledger <sfDir> <out.json> [--explain <dir>] <query...|all>")
      sys.exit(2)
    }
    val (sfDir, out) = (rest(0), rest(1))
    val names = if (rest.drop(2) == Seq("all")) graft.SparkEntry.queries.keys.toSeq.sorted
                else rest.drop(2)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.LocalSession.builder(graft.LocalSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Shared one-time costs (JIT, the events and documents copies) are
    // paid before the first measured query, as in the bench.
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.prepare(spark, sfDir)
    run(spark, sfDir, names, Paths.get(out), explainDir)
    spark.stop()
  }
}
