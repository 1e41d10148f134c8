package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.OperationConfig
import graft.core.Catalog
import graft.operators._
import graft.sources.{DriverSchema, FileTableStore}

/** CLI mirroring the reference's entry points (amaxa/__main__.py:18-47):
  *
  *   runMain graft.cli.Main <op.yml> --describe-dir D [--load]
  *     [--data-dir D] [--out-dir D] [--state-dir S] [--use-state S]
  *     [--check-only] [-v quiet|errors|normal|verbose]
  *
  * Extract: read tables from --data-dir, write per-step CSVs (id-first
  * column order) into --out-dir. Load: read step CSVs from --data-dir,
  * load into the --out-dir store (parquet tables with synthesized ids),
  * write `<sobject>-results.csv` (Original Id, New Id, Error) and save
  * resumable state on failure. --check-only validates and exits
  * (reference -k flag). Credentials/org auth have no local counterpart —
  * the describe-dir + data-dir pair IS the org.
  */
object Main {
  private val OriginalId = "Original Id" // reference constants.py:1-3
  private val NewId = "New Id"
  private val ErrorCol = "Error"

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    if (args.isEmpty) { System.err.println("usage: graft <op.yml> [options]"); return 2 }
    val opFile = args(0)
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val load = args.contains("--load")
    val checkOnly = args.contains("--check-only")
    val describeDir = opt("--describe-dir")
    val dataDir = opt("--data-dir").getOrElse(".")
    val outDir = opt("--out-dir").getOrElse(".")
    val stateDir = opt("--state-dir").getOrElse(s"$outDir/_state")
    val useState = opt("--use-state")
    // -v/--verbosity (reference __main__.py:38-45): default normal; an
    // unknown level is a usage error like argparse's invalid choice. The
    // level is process-global, so run() restores it on exit — an embedder
    // (or a test suite) calling run() in-process must not stay flipped to
    // the CLI's default afterwards.
    val savedLevel = graft.core.Log.level
    opt("-v").orElse(opt("--verbosity")).getOrElse("normal") match {
      case l if graft.core.Log.levels.contains(l) =>
        graft.core.Log.level = graft.core.Log.levels(l)
      case bad =>
        System.err.println(
          s"invalid verbosity $bad (choose from quiet, errors, normal, verbose)")
        return 2
    }
    try runLeveled(opFile, load, checkOnly, describeDir, dataDir,
      outDir, stateDir, useState)
    finally graft.core.Log.level = savedLevel
  }

  private def runLeveled(opFile: String, load: Boolean,
      checkOnly: Boolean, describeDir: Option[String], dataDir: String,
      outDir: String, stateDir: String, useState: Option[String]): Int = {
    val yamlText =
      try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(opFile)))
      catch { case e: Exception => System.err.println(s"Cannot read $opFile: ${e.getMessage}"); return 2 }

    // API-version preflight (reference __main__.py:57-76): validate
    // options.api-version BEFORE the full config parse — it is the one
    // setting the reference needs before it can even build a Connection.
    try {
      val raw = new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Any]](yamlText)
      if (raw != null) raw.get("options") match {
        case om: java.util.Map[_, _] =>
          val v = om.asInstanceOf[java.util.Map[String, Any]].get("api-version")
          if (v != null && !graft.config.OperationOptions.validApiVersion(v)) {
            System.err.println(s"API version $v is not valid.")
            return 1
          }
        case _ => ()
      }
    } catch { case _: Exception => () } // malformed YAML → parse() reports it

    val catalog = describeDir match {
      case Some(d) =>
        try Catalog.fromDescribeDir(new java.io.File(d))
        catch { case e: IllegalArgumentException =>
          System.err.println(e.getMessage); return 2 }
      case None => System.err.println("--describe-dir is required"); return 2
    }

    OperationConfig.parse(yamlText) match {
      case Left(errs) => errs.foreach(System.err.println); 1
      case Right(cfg) =>
        // Only stop the session if we created it (run() is also called
        // in-process from an existing session).
        val preexisting = SparkSession.getDefaultSession.isDefined
        val spark = graft.LocalSession.builder(graft.LocalSession.cpus(8))
          // graft's optimizer rules (no-op on a preexisting session —
          // extensions apply at session construction only).
          .withExtensions(new graft.plans.GraftExtensions())
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try {
          if (load) runLoad(spark, catalog, cfg, dataDir, outDir, stateDir, useState, checkOnly)
          else runExtract(spark, catalog, cfg, dataDir, outDir, checkOnly,
            stateDir, useState)
        } catch {
          // Transform misconfiguration surfaces as a validation error,
          // not a stack trace (reference validates options at config time).
          case e: graft.core.TransformException =>
            System.err.println(e.getMessage); 1
          // An unreadable --use-state is an unreadable input, like the
          // op file: one line, exit 2.
          case e: StateDir.Unreadable =>
            System.err.println(e.getMessage); 2
        } finally if (!preexisting) spark.stop()
    }
  }

  def runExtract(spark: SparkSession, catalog: Catalog, cfg: OperationConfig,
      dataDir: String, outDir: String, checkOnly: Boolean,
      stateDir: String = "", useState: Option[String] = None): Int = {
    OperationConfig.toExtractSteps(catalog, cfg) match {
      case Left(errs) => errs.foreach(System.err.println); 1
      case Right(steps) =>
        if (checkOnly) return 0
        val store = new FileTableStore(spark, dataDir, catalog.byName)
        val op = new ExtractOperation(store, catalog, steps)
        // Same resume surface as loads: --use-state <dir> restores the
        // last step or fixpoint-pass checkpoint and continues; a non-empty
        // --state-dir makes the run itself resumable.
        useState.foreach(op.loadState)
        val rc = op.execute(Option(stateDir).filter(_.nonEmpty))
        op.errors.filter(_._2.nonEmpty).foreach { case (t, errs) =>
          System.err.println(s"$t: errors took place during extraction:")
          errs.foreach(e => System.err.println(s"  $e"))
        }
        if (rc != 0) return 1
        new java.io.File(outDir).mkdirs()
        cfg.steps.foreach { sc =>
          op.writeCsv(sc.sobject, s"$outDir/${sc.fileName}",
            OperationConfig.mapper(sc, load = false))
        }
        0
    }
  }

  def runLoad(spark: SparkSession, catalog: Catalog, cfg: OperationConfig,
      dataDir: String, outDir: String, stateDir: String,
      useState: Option[String], checkOnly: Boolean): Int = {
    OperationConfig.toLoadSteps(catalog, cfg) match {
      case Left(errs) => errs.foreach(System.err.println); 1
      case Right(steps) =>
        // Input files must exist before any Spark read (reference reports
        // unopenable files as validation errors, not stack traces).
        val missingFiles = cfg.steps
          .filterNot(sc => new java.io.File(s"$dataDir/${sc.fileName}").exists())
          .map(sc => s"Cannot open input file $dataDir/${sc.fileName} for sObject ${sc.sobject}")
        if (missingFiles.nonEmpty) { missingFiles.foreach(System.err.println); return 1 }
        // Wire-model reads whose header is read on the driver: no job
        // per input just to learn its columns.
        val inputs: Map[String, DataFrame] = cfg.steps.map { sc =>
          sc.sobject -> DriverSchema.read(spark, s"$dataDir/${sc.fileName}", "csv")
        }.toMap
        // Input column validation (reference load_operation.py:151-208).
        val colErrs = cfg.steps.zip(steps).flatMap { case (sc, st) =>
          OperationConfig.validateInputColumns(catalog, sc, st.fieldScope,
            inputs(sc.sobject).columns.toSeq)
        }
        if (colErrs.nonEmpty) { colErrs.foreach(System.err.println); return 1 }
        if (checkOnly) return 0

        val mappers = cfg.steps.flatMap(sc =>
          OperationConfig.mapper(sc, load = true).map(sc.sobject -> _)).toMap
        val restored = useState.map(LoadOperation.loadState(spark, _))
        new java.io.File(outDir).mkdirs()
        val store = new FileTableStore(spark, outDir, catalog.byName)
        val op = new LoadOperation(store, catalog, steps, inputs, mappers,
          restored.map(_._1), restored.fold(LoadStage.Inserts)(_._2))
        val rc = op.execute()
        // Result files (reference S6): Original Id, New Id, Error.
        cfg.steps.foreach { sc =>
          op.results.get(sc.sobject).foreach { r =>
            r.select(col("originalId").as(OriginalId), col("newId").as(NewId),
              col("error").as(ErrorCol))
              .write.mode("overwrite").option("header", true)
              .csv(s"$outDir/${sc.resultFileName}")
          }
        }
        // Persist in BOTH outcomes: on failure the already-inserted tables
        // must survive to the resumed run, or the restored id map would
        // skip rows that no longer exist anywhere. Each table writes under
        // its step-effective bulk-api options (operation-level values
        // overridden per sobject, reference load_operation.py:34-35).
        val effOpts = cfg.steps
          .map(sc => sc.sobject -> sc.effectiveOptions(cfg.options)).toMap
        store.persist(t => effOpts.getOrElse(t, cfg.options))
        if (rc != 0) {
          op.saveState(stateDir) // resumable checkpoint (reference S7)
          System.err.println(s"Load failed; state saved to $stateDir")
          1
        } else 0
    }
  }
}
