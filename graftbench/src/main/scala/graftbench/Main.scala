package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one closed loop (one client, one op at a time) over
  * one workload in one JVM, then a result JSON file for `run.py`.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --fixture DIR --out FILE [--trace-out FILE]
  *
  * `--record` instead prints the query mix digests for the fixture.
  */
object Main {
  /** An engine workload has a `graph`; the query mix has none. A run times
    * at least `timedOps` ops and keeps going until `--seconds` have passed.
    */
  final case class Workload(graph: Option[GraphSpec], timedOps: Int)

  /** Input sizes; the benchmark's README gives the row counts. */
  val Workloads: Map[String, Workload] = Map(
    "engine_slice" -> Workload(Some(GraphSpec(accounts = 4000, oppsPerAccount = 5, depth = 4)),
      timedOps = 1),
    "query_mix" -> Workload(None, timedOps = 2))

  /** Set-up repetitions of the input generation. */
  val GenReps = 3

  def main(args: Array[String]): Unit = {
    def opt(k: String): Option[String] = args.sliding(2).collectFirst { case Array(`k`, v) => v }
    def need(k: String): String = opt(k).getOrElse(sys.error(s"missing $k"))
    val work = new File(need("--work"))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    progress(f"session started in $sessionS%.2f s")
    try {
      if (args.contains("--record")) record(spark, work, new File(need("--fixture")))
      else {
        val result = new Run(spark, cores.toInt, Workloads(need("--workload")), need("--seed").toLong,
          need("--seconds").toDouble, need("--trace") == "1", work,
          new File(need("--fixture")), sessionS, opt("--trace-out").map(new File(_))).result()
        Files.writeString(new File(need("--out")).toPath, result)
      }
    } finally {
      progress("stopping the session")
      spark.stop()
      progress("done")
    }
  }

  /** The session `graft.cli.Main` would build (GraftExtensions, UTC,
    * shuffle partitions = cores); `Main.run` then reuses it. Extensions
    * only apply when a session is built, so this must come first.
    */
  def session(work: File, cores: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .withExtensions(new graft.plans.GraftExtensions())
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def record(spark: SparkSession, work: File, fixture: File): Unit = {
    val in = new File(work, "record"); QueryMix.writeInputs(spark, fixture, in, 1L)
    val lines = QueryMix.Names.map { n =>
      val d = QueryMix.digest(spark, in.getPath, n)
      s"""  "$n": {"rows": ${d.rows}, "hash": "${d.hash}"}"""
    }
    println(lines.mkString("{\n", ",\n", "\n}"))
  }

  /** A JVM-log line stamped with seconds since the JVM started. */
  def progress(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"[$up%7.2f] $msg")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One benchmark run of one workload. */
final class Run(spark: SparkSession, cores: Int, w: Main.Workload, seed: Long,
    seconds: Double, trace: Boolean, work: File, fixture: File, sessionS: Double,
    traceOut: Option[File]) {
  import Main.{deleteTree, median, progress}

  private val tracer = new Tracer(spark)
  private val engine = w.graph.map(g => new Engine(spark, tracer, g, seed))
  private lazy val mixExpected = QueryMix.readExpected(new File(fixture, "expected.json"))

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val jobsPerOp = mutable.ArrayBuffer.empty[Int]

  /** Generates the run's inputs under `dir`: the org for an engine
    * workload, or the seeded copy of the query fixture.
    */
  private def makeInputs(dir: File): Option[QueryMix] = {
    w.graph.foreach(g => Graph.write(new File(dir, "org"), g, seed))
    if (w.graph.isEmpty) {
      QueryMix.writeInputs(spark, fixture, new File(dir, "tables"), seed)
      Some(new QueryMix(spark, tracer, new File(dir, "tables").getPath, mixExpected))
    } else None
  }

  private var opIndex = 0

  /** Releases what an op pinned (outside its timing) and waits for the
    * listener bus, so the next op starts clean and its counts are whole.
    */
  private def settle(): Unit = {
    graft.core.Lineage.releaseAllStorage(spark)
    graft.core.Materialize.clear(spark)
    tracer.drain()
  }

  private def record(errs: Seq[String]): Unit = {
    attempted += 1
    if (errs.nonEmpty) { failed += 1; failures ++= errs }
  }

  /** One op of the closed loop, then its output checks. */
  private def runOp(in: File, mix: Option[QueryMix], traced: Boolean): Op = {
    opIndex += 1
    val out = new File(work, s"op$opIndex")
    val jobs0 = tracer.jobCount.get
    tracer.enabled = traced
    val op = try tracer.op("op") {
      Op(engine.map(_.roundTrip(new File(in, "org"), out, traced)), mix.map(_.pass()), traced)
    } finally tracer.enabled = false
    settle()
    jobsPerOp += tracer.jobCount.get - jobs0
    val errs = op.trip.toSeq.flatMap(t =>
      if (t.failures.nonEmpty) t.failures else engine.toSeq.flatMap(_.check(out))) ++
      op.pass.toSeq.flatMap(_.failures)
    deleteTree(out)
    progress(f"op $opIndex traced=$traced wall=${op.wallS}%.3f s jobs=${jobsPerOp.last}" +
      op.trip.map(t => f" extract=${t.extractS}%.3f load=${t.loadS}%.3f " +
        f"reextract=${t.reextractS}%.3f").getOrElse("") +
      op.pass.map(p => QueryMix.Names.map(n => f" $n=${p.buildS(n) + p.actionS(n)}%.2f")
        .mkString).getOrElse(""))
    record(errs)
    op
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def result(): String = {
    // Set-up = session start + input generation + one warm-up op. The
    // generation is repeated and its median counts; the warm-up op runs on
    // the last generated inputs. The first op on a cold JVM takes about
    // twice as long as a warm one.
    val gens = (0 until Main.GenReps).map { rep =>
      val dir = new File(work, s"inputs$rep")
      val (mix, s) = timed(makeInputs(dir))
      (dir, mix, s)
    }
    gens.init.foreach(g => deleteTree(g._1))
    val (in, mix, _) = gens.last
    val (_, warmS) = timed {
      mix match {
        // The query warm-up collects every result and checks its digest
        // (BpeOps' in-JVM training memo is filled here, too).
        case Some(m) => val errs = m.checkContent(); settle(); record(errs)
        case None => runOp(in, None, traced = false)
      }
    }
    val setupS = sessionS + median(gens.map(_._3)) + warmS
    progress(f"set-up done: inputs ${gens.map(_._3).map(x => f"$x%.2f").mkString("/")} s, " +
      f"warm-up $warmS%.2f s")

    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    // A traced run runs its ops in untraced-traced-traced-untraced blocks
    // (at least one block), so the tracing overhead compares ops of the
    // same JVM at the same average warmth.
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < w.timedOps ||
        (trace && ops.size % 4 != 0))
      ops += runOp(in, mix, traced = trace && (ops.size % 4 == 1 || ops.size % 4 == 2))
    tracer.close()
    progress("loop done")

    val metrics =
      if (trace) Layers.metrics(tracer, ops.toSeq, cores, failed.toDouble / attempted)
      else endToEnd(setupS, ops.toSeq)
    traceOut.foreach(f => Layers.writeTrace(f, tracer, metrics))
    val warmJobs = jobsPerOp.drop(1).distinct
    val notes = failures.take(20) ++ (if (warmJobs.size <= 1) Nil
      else Seq(s"job counts differ across warm ops: ${jobsPerOp.mkString(",")}"))
    def fmt(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${fmt(metrics)}}, "info": {${fmt(if (trace) Nil else info(ops.toSeq))}}, """ +
      s""""ops": ${ops.size}, "jobs_per_op": [${jobsPerOp.mkString(",")}], """ +
      s""""notes": [${notes.map(JsonStr(_)).mkString(", ")}]}"""
  }

  /** The end-to-end metrics, the same on every workload. */
  private def endToEnd(setupS: Double, ops: Seq[Op]): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_s", median(ops.map(_.wallS)), "s"))

  /** Workload-specific figures printed beside the metrics, ungated. */
  private def info(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val trips = ops.flatMap(_.trip)
    val passes = ops.flatMap(_.pass)
    (if (trips.isEmpty) Nil else Seq(
      ("extract_s", median(trips.map(_.extractS)), "s"),
      ("load_s", median(trips.map(_.loadS)), "s"),
      ("reextract_s", median(trips.map(_.reextractS)), "s"))) ++
      (if (passes.isEmpty) Nil else QueryMix.Names.map(n =>
        (s"${n}_s", median(passes.map(p => p.buildS(n) + p.actionS(n))), "s")))
  }
}

/** What one op measured; only the parts the workload runs are set. */
final case class Op(trip: Option[RoundTrip], pass: Option[Pass], traced: Boolean) {
  def wallS: Double = trip.map(_.totalS).getOrElse(0.0) + pass.map(_.totalS).getOrElse(0.0)
  /** Rows the op produced: written by the round trip, returned by the pass. */
  def rowsOut: Long = trip.map(_.rowsWritten).getOrElse(0L) + pass.map(_.rows.values.sum).getOrElse(0L)
}

object JsonStr {
  def apply(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
