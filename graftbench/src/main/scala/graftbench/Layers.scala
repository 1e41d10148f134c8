package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: each is computed per traced op and
  * reported as the median over those ops.
  */
object Layers {
  import Main.median

  /** Job call-site files reported one by one; the rest is `other`. The
    * benchmark's replay of the CLI stands in for `Main`.
    */
  val JobFiles: Seq[String] = Seq("Lineage", "ExtractEngine", "LoadEngine", "FileTableStore", "Main")
  private val Replay = "Engine"
  private val SpanModule = Map(
    "operators.extract_execute" -> "ExtractEngine", "operators.extract_write" -> "ExtractEngine",
    "operators.load_execute" -> "LoadEngine", "sources.persist" -> "FileTableStore",
    "cli.extract" -> "Main", "cli.load" -> "Main", "cli.read_inputs" -> "Main",
    "cli.results_write" -> "Main")

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "config.parse_s" -> "s", "operators.extract_execute_s" -> "s",
    "operators.extract_write_s" -> "s", "operators.load_execute_s" -> "s",
    "sources.persist_s" -> "s", "cli.results_write_s" -> "s", "cli.self_s" -> "s",
    "queries.build_s" -> "s", "queries.action_s" -> "s") ++
    QueryMix.Names.map(n => s"queries.${n}_s" -> "s") ++ Seq(
    "plan.executions" -> "count", "plan.analysis_s" -> "s",
    "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count") ++
    (JobFiles :+ "other").map(f => s"sched.jobs.$f" -> "count") ++ Seq(
    "sched.job_busy_s" -> "s", "sched.driver_gap_s" -> "s", "sched.stage_skip_frac" -> "ratio",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.gc_s" -> "s", "exec.util" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "spill.mb" -> "MB",
    "io.read_mb" -> "MB", "io.read_rows" -> "rows", "io.write_mb" -> "MB",
    "io.write_rows" -> "rows", "io.rows_read_per_row_out" -> "ratio",
    "storage.peak_mb" -> "MB", "storage.blocks_peak" -> "count",
    "jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.overhead_frac" -> "ratio", "trace.covered_frac" -> "ratio",
    "failed_frac" -> "ratio")

  /** Source file (no extension) of each job's call site; the replay of
    * the CLI counts as `Main`. Jobs Spark starts from its own threads
    * (broadcasts, adaptive stages) carry no graft frame and inherit the
    * call site of another job of the same SQL execution.
    */
  private def sources(jobs: Seq[Tracer#Job]): Map[Int, String] = {
    def file(site: String) = "\\(([A-Za-z0-9_]+)\\.scala".r.findFirstMatchIn(site)
      .map(m => if (m.group(1) == Replay) "Main" else m.group(1))
    val byExecution = jobs.flatMap(j => j.sqlExecution.zip(file(j.callSite))).toMap
    jobs.map(j => j.id -> file(j.callSite).orElse(j.sqlExecution.flatMap(byExecution.get))
      .getOrElse("unknown")).toMap
  }

  /** Per-op aggregates keyed by metric name, for every traced op. */
  private def perOp(t: Tracer, tracedOps: Seq[Op], cores: Int,
      failedFrac: Double): Seq[Map[String, Double]] = {
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobs = t.jobs.asScala.toSeq
    val jobSource = sources(jobs)
    val tasks = t.tasks.asScala.toSeq
    val phases = t.phases.asScala.toSeq
    val blocks = t.blockSamples.asScala.toSeq
    spans.filter(_.parent == -1).zip(tracedOps).map { case (op, measured) =>
      val inOp = (ms: Long) => ms >= op.startMs && ms <= op.endMs
      val mine = spans.filter(_.op == op.id)
      def sum(name: String) = mine.filter(_.name == name).map(_.seconds).sum
      val opJobs = jobs.filter(j => inOp(j.startMs))
      val stageIds = opJobs.flatMap(_.stages).toSet
      val opTasks = tasks.filter(x => stageIds(x.stageId))
      val submitted = stageIds.count(t.submittedStages.contains)
      // Union of job spans: sort by start and merge overlaps.
      var busy = 0L; var curS = -1L; var curE = -1L
      opJobs.map(j => (j.startMs, math.max(j.endMs, j.startMs))).sortBy(_._1).foreach {
        case (s, e) =>
          if (s > curE) { busy += curE - curS; curS = s; curE = e }
          else curE = math.max(curE, e)
      }
      busy += curE - curS
      val cpu = opTasks.map(_.cpuNs).sum / 1e9
      val steps = mine.filter(s => s.name == "cli.extract" || s.name == "cli.load")
      val cliSelf = steps.map { s =>
        s.seconds - children.getOrElse(s.id, Nil).filterNot(_.name == "cli.read_inputs")
          .map(_.seconds).sum
      }.sum
      val readRows = opTasks.map(_.readRows).sum.toDouble
      val writeRows = opTasks.map(_.writeRows).sum
      val usefulRows = measured.rowsOut
      val opBlocks = blocks.filter(b => inOp(b.timeMs))
      val (heapMb, gcS) = t.opJvm.getOrElse(op.id, (0.0, 0.0))
      // A job whose call site names no graft file counts for the module
      // of the innermost span open when it started.
      def fileOf(j: Tracer#Job): String = jobSource(j.id) match {
        case "unknown" =>
          val open = mine.filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
          if (open.isEmpty) "other" else SpanModule.getOrElse(open.maxBy(_.startNs).name, "other")
        case f => f
      }
      val byFile = opJobs.groupBy(fileOf).map { case (k, v) => k -> v.size }
      val mb = 1024.0 * 1024.0
      Map(
        "config.parse_s" -> sum("config.parse"),
        "operators.extract_execute_s" -> sum("operators.extract_execute"),
        "operators.extract_write_s" -> sum("operators.extract_write"),
        "operators.load_execute_s" -> sum("operators.load_execute"),
        "sources.persist_s" -> sum("sources.persist"),
        "cli.results_write_s" -> sum("cli.results_write"),
        "cli.self_s" -> cliSelf,
        "queries.build_s" -> sum("queries.build"),
        "queries.action_s" -> sum("queries.action"),
        "plan.executions" -> phases.count(p => inOp(p.startMs)).toDouble,
        "plan.analysis_s" -> phases.filter(p => inOp(p.startMs)).map(_.analysisMs).sum / 1e3,
        "plan.optimization_s" ->
          phases.filter(p => inOp(p.startMs)).map(_.optimizationMs).sum / 1e3,
        "plan.planning_s" -> phases.filter(p => inOp(p.startMs)).map(_.planningMs).sum / 1e3,
        "sched.jobs" -> opJobs.size.toDouble,
        "sched.stages" -> submitted.toDouble,
        "sched.tasks" -> opTasks.size.toDouble,
        "sched.job_busy_s" -> busy / 1e3,
        "sched.driver_gap_s" -> math.max(0.0, op.seconds - busy / 1e3),
        "sched.stage_skip_frac" ->
          (if (stageIds.isEmpty) 0.0 else 1.0 - submitted.toDouble / stageIds.size),
        "exec.cpu_s" -> cpu,
        "exec.run_s" -> opTasks.map(_.runMs).sum / 1e3,
        "exec.gc_s" -> opTasks.map(_.gcMs).sum / 1e3,
        "exec.util" -> cpu / (op.seconds * cores),
        "shuffle.write_mb" -> opTasks.map(_.shuffleWrite).sum / mb,
        "shuffle.read_mb" -> opTasks.map(_.shuffleRead).sum / mb,
        "spill.mb" -> opTasks.map(_.spillDisk).sum / mb,
        "io.read_mb" -> opTasks.map(_.readBytes).sum / mb,
        "io.read_rows" -> readRows,
        "io.write_mb" -> opTasks.map(_.writeBytes).sum / mb,
        "io.write_rows" -> writeRows.toDouble,
        "io.rows_read_per_row_out" -> (if (usefulRows == 0) 0.0 else readRows / usefulRows),
        "storage.peak_mb" -> (if (opBlocks.isEmpty) 0.0 else opBlocks.map(_.bytes).max / mb),
        "storage.blocks_peak" -> (if (opBlocks.isEmpty) 0.0 else opBlocks.map(_.count).max.toDouble),
        "jvm.heap_peak_mb" -> heapMb,
        "jvm.gc_s" -> gcS,
        "trace.covered_frac" -> coverage(op, children),
        "failed_frac" -> failedFrac) ++
        JobFiles.map(f => s"sched.jobs.$f" -> byFile.getOrElse(f, 0).toDouble) ++
        Seq("sched.jobs.other" -> byFile.filter(kv => !JobFiles.contains(kv._1)).values.sum.toDouble) ++
        QueryMix.Names.map(n => s"queries.${n}_s" -> sum(s"queries.$n"))
    }
  }

  /** Lowest share of a span covered by its child spans, over every span
    * below `op` that has children.
    */
  private def coverage(op: Span, children: Map[Int, Seq[Span]]): Double = {
    def walk(s: Span): Seq[Double] = children.get(s.id) match {
      case Some(cs) => (cs.map(_.seconds).sum / s.seconds) +: cs.flatMap(walk)
      case None => Nil
    }
    val covered = children.getOrElse(op.id, Nil).flatMap(walk)
    if (covered.isEmpty) 1.0 else covered.min
  }

  def metrics(t: Tracer, ops: Seq[Op], cores: Int,
      failedFrac: Double): Seq[(String, Double, String)] = {
    val per = perOp(t, ops.filter(_.traced), cores, failedFrac)
    // Means, not medians: the ops come in untraced-traced-traced-untraced
    // order, so a warm-up trend across them cancels out of the ratio.
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val traced = mean(ops.filter(_.traced).map(_.wallS))
    val untraced = mean(ops.filterNot(_.traced).map(_.wallS))
    Names.map { case (n, u) =>
      val v =
        if (n == "trace.overhead_frac") traced / untraced - 1.0
        else if (n == "trace.covered_frac") per.map(_(n)).min
        else median(per.map(_(n)))
      (n, v, u)
    }
  }

  /** Spans (with self time and the jobs that started inside each) and the
    * per-layer metrics, as JSON.
    */
  def writeTrace(f: File, t: Tracer, metrics: Seq[(String, Double, String)]): Unit = {
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val jobs = t.jobs.asScala.toSeq
    // A job belongs to the innermost span open when it started.
    val jobsIn = mutable.Map.empty[Int, Int].withDefaultValue(0)
    jobs.foreach { j =>
      val open = spans.filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
      if (open.nonEmpty) jobsIn(open.maxBy(_.startNs).id) += 1
    }
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val spanJson = spans.map { s =>
      val self = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, """ +
        f""""self_s": $self%.6f, "jobs": ${jobsIn(s.id)}}"""
    }
    val metricJson = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    val jobSource = sources(jobs)
    val byFile = jobs.groupBy(j => jobSource(j.id)).toSeq.sortBy(-_._2.size)
      .map { case (f, js) => s""""$f": ${js.size}""" }
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath,
      s"""{"metrics": {\n  ${metricJson.mkString(",\n  ")}\n},\n""" +
        s""""jobs_by_source_file": {${byFile.mkString(", ")}},\n""" +
        s""""spans": [\n  ${spanJson.mkString(",\n  ")}\n]}\n""")
  }
}
