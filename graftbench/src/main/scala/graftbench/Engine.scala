package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.cli.Main
import graft.config.OperationConfig
import graft.core.Catalog
import graft.operators.{ExtractOperation, LoadOperation, LoadStage}
import graft.sources.FileTableStore

/** One extract → load → re-extract round trip: its step times and the
  * steps that returned non-zero.
  */
final case class RoundTrip(extractS: Double, loadS: Double, reextractS: Double,
    rowsWritten: Long, failures: Seq[String]) {
  def totalS: Double = extractS + loadS + reextractS
}

/** The engine workloads: the CLI entry point `graft.cli.Main.run` driven
  * the way a user runs it. Untraced round trips call `Main.run`; traced
  * ones replay `Main.runExtract`/`runLoad`'s public calls in the same
  * order so each call gets its own span.
  */
final class Engine(spark: SparkSession, tracer: Tracer, spec: GraphSpec, seed: Long) {
  private val expectedCounts = spec.expectedCounts(seed)
  private val expectedKeys = spec.expectedAccounts(seed).map(_.toString)

  /** Rows each of the three steps writes when the outputs are correct. */
  val rowsPerStep: Long = expectedCounts.values.sum

  /** Runs one round trip from the generated org in `in` into `dir`. */
  def roundTrip(in: File, dir: File, traced: Boolean): RoundTrip = {
    val (ext, tgt, re) = (new File(dir, "extracted"), new File(dir, "target"),
      new File(dir, "reextracted"))
    def step(load: Boolean, from: File, to: File): (Int, Double) = {
      val t0 = System.nanoTime()
      val rc =
        if (traced) tracedStep(load, in, from, to)
        else Main.run(cliArgs(load, in, from, to))
      (rc, (System.nanoTime() - t0) / 1e9)
    }
    val (rc1, e) = step(load = false, new File(in, "src"), ext)
    val (rc2, l) = step(load = true, ext, tgt)
    val (rc3, r) = step(load = false, tgt, re)
    val failures = Seq(rc1 -> "extract", rc2 -> "load", rc3 -> "re-extract")
      .collect { case (rc, s) if rc != 0 => s"$s returned $rc" }
    RoundTrip(e, l, r, 3 * rowsPerStep, failures)
  }

  private def cliArgs(load: Boolean, in: File, from: File, to: File): Array[String] =
    Array(new File(in, "op.yml").getPath) ++ (if (load) Seq("--load") else Nil) ++
      Seq("--describe-dir", new File(in, "describes").getPath,
        "--data-dir", from.getPath, "--out-dir", to.getPath, "-v", "errors")

  /** `Main.runExtract` / `Main.runLoad`, call for call, with a span on each
    * public call. Session construction and the API-version preflight are
    * skipped: the session already exists and the generated op has no
    * api-version.
    */
  private def tracedStep(load: Boolean, in: File, from: File, to: File): Int =
    tracer.span(if (load) "cli.load" else "cli.extract") {
      val saved = graft.core.Log.level
      graft.core.Log.level = graft.core.Log.levels("errors")
      try {
        val yaml = Files.readString(new File(in, "op.yml").toPath)
        val (catalog, cfg) = tracer.span("config.parse") {
          (Catalog.fromDescribeDir(new File(in, "describes")),
            OperationConfig.parse(yaml).fold(e => sys.error(e.mkString("; ")), identity))
        }
        if (load) tracedLoad(catalog, cfg, from.getPath, to.getPath)
        else tracedExtract(catalog, cfg, from.getPath, to.getPath)
      } finally graft.core.Log.level = saved
    }

  private def tracedExtract(catalog: Catalog, cfg: OperationConfig, dataDir: String,
      outDir: String): Int = {
    val steps = tracer.span("config.parse") {
      OperationConfig.toExtractSteps(catalog, cfg).fold(e => sys.error(e.mkString("; ")), identity)
    }
    val store = new FileTableStore(spark, dataDir, catalog.byName)
    val op = new ExtractOperation(store, catalog, steps)
    val rc = tracer.span("operators.extract_execute") {
      op.execute(Some(s"$outDir/_state"), Int.MaxValue)
    }
    if (rc != 0) return 1
    new File(outDir).mkdirs()
    tracer.span("operators.extract_write") {
      cfg.steps.foreach { sc =>
        op.writeCsv(sc.sobject, s"$outDir/${sc.fileName}", OperationConfig.mapper(sc, load = false))
      }
    }
    0
  }

  private def tracedLoad(catalog: Catalog, cfg: OperationConfig, dataDir: String,
      outDir: String): Int = {
    val steps = tracer.span("config.parse") {
      OperationConfig.toLoadSteps(catalog, cfg).fold(e => sys.error(e.mkString("; ")), identity)
    }
    val inputs: Map[String, DataFrame] = tracer.span("cli.read_inputs") {
      cfg.steps.map { sc =>
        sc.sobject -> spark.read.option("header", true).option("inferSchema", false)
          .option("multiLine", true).option("escape", "\"")
          .csv(s"$dataDir/${sc.fileName}")
      }.toMap
    }
    val colErrs = tracer.span("config.validate_columns") {
      cfg.steps.zip(steps).flatMap { case (sc, st) =>
        OperationConfig.validateInputColumns(catalog, sc, st.fieldScope,
          inputs(sc.sobject).columns.toSeq)
      }
    }
    if (colErrs.nonEmpty) return 1
    val mappers = cfg.steps.flatMap(sc =>
      OperationConfig.mapper(sc, load = true).map(sc.sobject -> _)).toMap
    new File(outDir).mkdirs()
    val store = new FileTableStore(spark, outDir, catalog.byName)
    val op = new LoadOperation(store, catalog, steps, inputs, mappers, None, LoadStage.Inserts)
    val rc = tracer.span("operators.load_execute")(op.execute())
    tracer.span("cli.results_write") {
      cfg.steps.foreach { sc =>
        op.results.get(sc.sobject).foreach { r =>
          r.select(col("originalId").as("Original Id"), col("newId").as("New Id"),
            col("error").as("Error"))
            .write.mode("overwrite").option("header", true)
            .csv(s"$outDir/${sc.resultFileName}")
        }
      }
    }
    val effOpts = cfg.steps.map(sc => sc.sobject -> sc.effectiveOptions(cfg.options)).toMap
    tracer.span("sources.persist")(store.persist(t => effOpts.getOrElse(t, cfg.options)))
    if (rc != 0) 1 else 0
  }

  /** Output checks, read with plain file I/O so they add no Spark jobs:
    * per-table counts of both extracts against the generator's own
    * closure, the Account key set against it, and every load result row
    * carrying a New Id and no Error.
    */
  def check(dir: File): Seq[String] = {
    val (ext, tgt, re) = (new File(dir, "extracted"), new File(dir, "target"),
      new File(dir, "reextracted"))
    val out = Seq.newBuilder[String]
    Graph.Tables.foreach { t =>
      val want = expectedCounts(t)
      val e = Csv.rows(new File(ext, s"$t.csv"))
      val r = Csv.rows(new File(re, s"$t.csv"))
      if (e.size != want) out += s"$t: extracted ${e.size} rows, expected $want"
      if (r.size != e.size) out += s"$t: re-extracted ${r.size} rows, extracted ${e.size}"
      val res = Csv.rows(new File(tgt, s"$t-results.csv"))
      if (res.size != e.size) out += s"$t: ${res.size} load results for ${e.size} rows"
      val bad = res.count(row => row.lift(1).forall(_.isEmpty) || row.lift(2).exists(_.nonEmpty))
      if (bad > 0) out += s"$t: $bad load results without a New Id or with an Error"
      if (t == "Account") Seq("extract" -> e, "re-extract" -> r).foreach { case (what, rows) =>
        val keyCol = Csv.header(new File(ext, s"$t.csv")).indexOf("Key__c")
        val keys = rows.map(_(keyCol)).toSet
        if (keys != expectedKeys)
          out += s"Account: $what key set differs from the closure " +
            s"(${keys.size} vs ${expectedKeys.size})"
      }
    }
    out.result()
  }
}

/** Minimal reader for the CSVs this benchmark produces and checks: a file
  * or a Spark output directory of part files, one header line each, no
  * quoted commas (the generated values contain none).
  */
object Csv {
  private def parts(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles((_, n) => n.startsWith("part-") && n.endsWith(".csv")))
        .map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
    else if (f.exists()) Seq(f) else Nil

  def header(f: File): Seq[String] =
    parts(f).headOption.map(p => Files.lines(p.toPath))
      .map(s => try s.findFirst().orElse("") finally s.close())
      .map(_.split(",", -1).toSeq.map(_.stripPrefix("\"").stripSuffix("\""))).getOrElse(Nil)

  def rows(f: File): Seq[Array[String]] = parts(f).flatMap { p =>
    val lines = Files.readAllLines(p.toPath)
    (1 until lines.size).iterator.map(i => lines.get(i))
      .filter(_.nonEmpty).map(_.split(",", -1).map(_.stripPrefix("\"").stripSuffix("\""))).toSeq
  }
}
