package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Catalog
import graft.functions.GraftFunctions
import graft.sources.TableStore

import scala.collection.mutable
import graft.core.Lineage.LineageOps

/** Topologically-staged load with global id remapping — the Spark-native
  * re-expression of the reference's LoadOperation / LoadStep
  * (/root/reference/amaxa/amaxa.py:239-535).
  *
  * Stage INSERTS: per table in declared order — resume-filter, transform,
  * strip deferred (self + forward) FKs, remap descendent FKs through the
  * global id map, primitivize, insert; stop at the first table with any
  * error. Stage DEPENDENTS: per table — re-read the input, remap the
  * deferred FK columns, update.
  *
  * The global id map is a two-column DataFrame joined (AQE-broadcast while
  * small) rather than the reference's driver-side dict
  * (amaxa/amaxa.py:243-260) — the 100 TB path keeps it distributed.
  * Row-level failures flow through error columns into per-table result
  * frames (originalId, newId, error), replacing the reference's positional
  * zip against input order (amaxa/amaxa.py:435-450).
  */
object LoadStage extends Enumeration {
  val Inserts, Dependents = Value
}

final class LoadOperation(
    store: TableStore,
    catalog: Catalog,
    steps: Seq[LoadStepSpec],
    inputs: Map[String, DataFrame],
    mappers: Map[String, DataMapper] = Map.empty,
    initialIdMap: Option[DataFrame] = None,
    initialStage: LoadStage.Value = LoadStage.Inserts) {

  private val order = steps.map(_.sobject)
  private def spark = store.spark

  private def emptyIdMap: DataFrame = {
    val sp = spark; import sp.implicits._
    Seq.empty[(String, String)].toDF("originalId", "newId")
  }

  /** Global old→new id map (reference global_id_map). */
  var idMap: DataFrame = initialIdMap.getOrElse(emptyIdMap)
  var stage: LoadStage.Value = initialStage
  var success: Boolean = true

  /** Per-table result frames (originalId, newId, error) — the RESULT file
    * channel (reference register_new_id/register_error, amaxa:247-257). */
  val results = mutable.Map.empty[String, DataFrame]

  private def appendResult(t: String, r: DataFrame): Unit = {
    val norm = r.select(col("originalId").cast("string"),
      col("newId").cast("string"), col("error").cast("string"))
    results(t) = results.get(t) match {
      case Some(acc) => acc.unionByName(norm)
      case None => norm
    }
  }

  /** Reference transform_record (amaxa:377-381): mapper column→field
    * renames + per-field transform chains, then narrow to field scope.
    * Salesforce-id tables additionally canonicalize id/reference columns
    * (15→18) so the id map, resume filter, and FK-remap joins all compare
    * canonical forms — the reference wraps every comparison in
    * SalesforceId instead (amaxa:321-339).
    */
  private def transformInput(step: LoadStepSpec, input: DataFrame): DataFrame = {
    val sch = catalog(step.sobject)
    val renamed = mappers.get(step.sobject) match {
      case Some(m) =>
        val cols = input.columns.toSeq.map { c =>
          val field = m.transformKey(c)
          val chain = m.fieldTransforms.get(c)
            .map(sp => graft.core.Transforms.chain(sp,
              graft.core.FieldContext(field,
                sch.fieldMap.get(field).map(_.soapType).getOrElse("xsd:string"))))
            .getOrElse(identity[Column] _)
          chain(col(c)).as(field)
        }
        input.select(cols: _*)
      case None => input
    }
    val scoped = renamed.select(
      step.fieldScope.filter(renamed.columns.contains).map(col): _*)
    if (!sch.salesforceIds) scoped
    else scoped.select(scoped.columns.toIndexedSeq.map { f =>
      if (f == sch.idField || sch.fieldMap.get(f).exists(_.isReference))
        // Blank stays blank (it means "unpopulated", not an invalid id).
        when(col(f).isNull || col(f) === "", col(f))
          .otherwise(graft.functions.GraftFunctions.canonical_id(col(f).cast("string")))
          .as(f)
      else col(f)
    }: _*)
  }

  /** Reference get_value_for_lookup (amaxa:321-339) vectorized: remap one
    * FK column through the id map, with per-field outside-lookup behavior.
    * Adds `__err_<f>` for Error-behavior misses.
    */
  private def populateLookup(step: LoadStepSpec, df: DataFrame, f: String,
      idCol: String): DataFrame = {
    val m = idMap.select(col("originalId").as(s"__old_$f"), col("newId").as(s"__new_$f"))
    val joined = df.join(m, col(f).cast("string") === col(s"__old_$f"), "left")
    val mapped = col(s"__new_$f").isNotNull
    // Work on the string form: a remapped id is a string, and mixing it
    // with a numeric source column would coerce the branch type back to
    // numeric (wire model is strings anyway, amaxa §1.2).
    val orig = col(f).cast("string")
    val blank = col(f).isNull || orig === ""
    val remapped = step.outsideBehavior(f) match {
      case OutsideLookupBehavior.Include =>
        joined.withColumn(f,
          when(blank, orig).when(mapped, col(s"__new_$f")).otherwise(orig))
      case OutsideLookupBehavior.DropField =>
        joined.withColumn(f,
          when(blank, orig).when(mapped, col(s"__new_$f")).otherwise(lit("")))
      case OutsideLookupBehavior.Error =>
        joined.withColumn(s"__err_$f",
          when(!blank && !mapped,
            concat(lit(s"${step.sobject} "), col(idCol),
              lit(s" has an outside reference in field $f ("), col(f),
              lit("), which is not allowed by the extraction configuration.")))
            .otherwise(lit(null).cast("string")))
          .withColumn(f, when(blank, orig).when(mapped, col(s"__new_$f")).otherwise(orig))
    }
    remapped.drop(s"__old_$f", s"__new_$f")
  }

  /** Reference primitivize (amaxa:349-375) vectorized per soapType; bad
    * booleans populate `__err_bool_<f>`. Values stay strings (wire model). */
  private def primitivize(step: LoadStepSpec, df: DataFrame): DataFrame = {
    val sch = catalog(step.sobject)
    var out = df
    step.fieldScope.filter(out.columns.contains).foreach { f =>
      val soap = sch.fieldMap.get(f).map(_.soapType).getOrElse("xsd:string")
      val c = col(f).cast("string")
      soap match {
        case "xsd:boolean" =>
          out = out
            .withColumn(s"__err_bool_$f", GraftFunctions.primitivizeBoolError(c))
            .withColumn(f, GraftFunctions.primitivizeBool(c).cast("string"))
        case "tns:ID" | "xsd:string" | "xsd:date" | "xsd:dateTime" | "xsd:int" | "xsd:double" =>
          out = out.withColumn(f, when(c.isNull || c === "", lit(null).cast("string")).otherwise(c))
        case _ =>
          // Unsupported soapType values are silently nulled (amaxa:371-373).
          out = out.withColumn(f, lit(null).cast("string"))
      }
    }
    out
  }

  /** Collapse all `__err_*` columns into one `__error` column (first error
    * wins, like the reference's first-exception-per-record semantics). */
  private def collectErrors(df: DataFrame): DataFrame = {
    val errCols = df.columns.filter(_.startsWith("__err_"))
    val e = if (errCols.isEmpty) lit(null).cast("string")
            else coalesce(errCols.map(col).toIndexedSeq: _*)
    df.withColumn("__error", e).drop(errCols.toIndexedSeq: _*)
  }

  /** Stage-INSERTS body for one table (reference LoadStep.execute,
    * amaxa:393-454). */
  private def executeInsert(step: LoadStepSpec): Unit = {
    val t = step.sobject
    val sch = catalog(t)
    val idf = sch.idField
    val ls = catalog.classifyLookups(order, t, step.fieldScope)
    val deferred = ls.dependent ++ ls.self

    // Mapper renames first so the id column is addressable, then the
    // resume skip-filter (amaxa:403-405).
    val input = transformInput(step, inputs(t))
    val transformed = input.join(
      idMap.select(col("originalId").as("__loaded")),
      input(idf).cast("string") === col("__loaded"), "left_anti")
    val kept = transformed.drop(deferred.toSeq.sorted: _*)
    var populated = kept
    ls.descendent.toSeq.sorted.foreach { f =>
      if (populated.columns.contains(f))
        populated = populateLookup(step, populated, f, idf)
    }
    // Duplicate input ids would all map to the same synthesized new id
    // (newIdExpr is a pure function of table+originalId), silently fanning
    // out every subsequent remap join — fail the rows instead. The
    // reference's org hands out distinct ids so it never faces this; with
    // deterministic ids the input contract is "unique ids per table".
    // DETECTION rides the stats job below as a count_distinct over the id
    // column (same scan, only id values shuffle) — the eager groupBy+join
    // form this replaces cost two extra full-lineage jobs per staged table
    // on EVERY load (round-4 verdict: the one reproducible >2x regression).
    // The per-row repair join runs only when dups actually exist, over the
    // already-materialized frame. `input-validation: none` (reference
    // docs/validation.rst:6-15) skips even the detection aggregate.
    //
    // One job materializes the prepped batch AND answers all three gates
    // (any errors? any rows? any duplicate ids?) — separate actions were
    // extra scheduler round-trips per staged table.
    val base = collectErrors(primitivize(step, populated))
    var (prepped, total, errCount, hasDups) =
      if (step.inputValidation == "none") {
        val (p, n, e) = graft.core.Lineage.cutStats(base, col("__error").isNotNull)
        (p, n, e, false)
      } else {
        val (p, n, e, ids, distinct) = graft.core.Lineage.cutStatsKeyed(
          base, col("__error").isNotNull, col(idf))
        (p, n, e, distinct < ids) // null ids group-skip, like the old join
      }
    if (hasDups) {
      // Rare failure path: name the offending rows. Runs over the cut
      // frame, so these two jobs scan materialized blocks, not lineage.
      val dupIds = prepped.groupBy(col(idf).as("__dup_id"))
        .agg(count(lit(1)).as("__dup_n")).where(col("__dup_n") > 1)
        .select(col("__dup_id"))
      val flagged = prepped
        .join(dupIds, prepped(idf) === col("__dup_id"), "left")
        .withColumn("__error",
          when(col("__dup_id").isNotNull,
            concat(lit("Duplicate record id "), col(idf).cast("string")))
            .otherwise(col("__error"))) // dup error wins, as before
        .drop("__dup_id")
      val (p2, n2, e2) = graft.core.Lineage.cutStats(flagged, col("__error").isNotNull)
      prepped = p2; total = n2; errCount = e2
    }
    if (errCount > 0) {
      val errRows = prepped.where(col("__error").isNotNull)
      appendResult(t, errRows.select(col(idf).as("originalId"),
        lit(null).cast("string").as("newId"), col("__error").as("error")))
      success = false
      return // reference: no insert happens if any row failed prep (amaxa:432-433)
    }

    if (total == 0) return
    val ok = prepped.drop("__error")
    val (res, _, resErrs) = graft.core.Lineage.cutStats(
      store.insert(t, ok, idf), col("error").isNotNull)
    appendResult(t, res)
    if (resErrs > 0) success = false
    // The id-map accumulator folds LAZILY: each fold projects an
    // already-checkpointed result frame, original ids are unique within a
    // table (dup-checked above) and disjoint across tables (globally
    // unique ids), so the union needs no distinct, no re-checkpoint, and
    // leaves no superseded map copies to release.
    idMap = idMap.unionByName(
      res.where(col("error").isNull).select(
        col("originalId").cast("string"), col("newId").cast("string")))
  }

  /** Stage-DEPENDENTS body for one table (reference
    * execute_dependent_updates, amaxa:456-513). */
  private def executeDependentUpdates(step: LoadStepSpec): Unit = {
    val t = step.sobject
    val sch = catalog(t)
    val idf = sch.idField
    val ls = catalog.classifyLookups(order, t, step.fieldScope)
    val deferred = (ls.dependent ++ ls.self).toSeq.sorted
    if (deferred.isEmpty) return

    val input = transformInput(step, inputs(t))
    val ext = input.select((idf +: deferred.filter(input.columns.contains)).map(col): _*)
    var populated = ext
    deferred.filter(ext.columns.contains).foreach { f =>
      populated = populateLookup(step, populated, f, idf)
    }
    val (withErr, _, errCount) = graft.core.Lineage.cutStats(
      collectErrors(populated), col("__error").isNotNull)
    if (errCount > 0) {
      val errRows = withErr.where(col("__error").isNotNull)
      appendResult(t, errRows.select(col(idf).as("originalId"),
        lit(null).cast("string").as("newId"), col("__error").as("error")))
      success = false
      return
    }

    // Keep rows with ≥1 populated deferred value (amaxa:476-487).
    val hasWork = deferred.filter(withErr.columns.contains)
      .map(f => col(f).isNotNull && col(f) =!= "")
      .reduceOption(_ || _).getOrElse(lit(false))
    // Rewrite the row's own id to the new id (amaxa:493-497), keeping the
    // original alongside: the RESULT channel is keyed by ORIGINAL id.
    val (toUpdate, updCount) = graft.core.Lineage.cutCounted(
      withErr.drop("__error").where(hasWork)
        .join(idMap, col(idf).cast("string") === col("originalId"), "inner")
        .drop(idf).withColumnRenamed("newId", idf))
    if (updCount == 0) return

    val (res, _, resErrs) = graft.core.Lineage.cutStats(
      store.update(t, toUpdate.drop("originalId"), idf), col("error").isNotNull)
    val backMap = toUpdate.select(col(idf).cast("string").as("__new"), col("originalId"))
    // Reference RESULT contract: the dependents stage registers only
    // ERRORS (amaxa:505-510) — a success row already exists from the
    // insert stage, so appending blank success rows here would double up.
    appendResult(t, res.join(backMap, col("id") === col("__new"))
      .where(col("error").isNotNull)
      .select(col("originalId"), lit(null).cast("string").as("newId"), col("error")))
    if (resErrs > 0) success = false
  }

  /** Reference LoadOperation.execute (amaxa:262-295): inserts stage with
    * stop-on-error per table, then dependent-updates stage. */
  def execute(): Int = {
    // Progress lines mirror the reference's logger messages
    // (amaxa/amaxa.py:263-289); error details stay in the per-row
    // results channel, which the CLI reports after the run.
    graft.core.Log.info(
      s"Starting load with sObjects ${steps.map(_.sobject).mkString(", ")}")
    if (stage == LoadStage.Inserts) {
      steps.foreach { s =>
        graft.core.Log.info(s"${s.sobject}: starting load")
        executeInsert(s)
        if (!success) return -1
      }
      stage = LoadStage.Dependents
    }
    if (stage == LoadStage.Dependents) {
      steps.foreach { s =>
        graft.core.Log.info(s"${s.sobject}: populating dependent and self-lookups")
        executeDependentUpdates(s)
        if (!success) return -1
      }
    }
    0
  }

  /** Checkpoint/resume (reference loader/state.py + S7): the stage and
    * the id map as one part, published in a `stage.json` manifest (see
    * [[StateDir]]). The id map then reads the part just written, so it
    * never reads a part a later save deletes — a resumed map reads the
    * previous save's part, which this save's publish removes. */
  def saveState(dir: String): Unit = {
    val sd = new StateDir(spark, dir, LoadOperation.Manifest)
    sd.publish(Map("stage" -> stage.toString, "id_map" -> idMap))
    idMap = sd.reread(idMap)
  }
}

object LoadOperation {
  private val Manifest = "stage.json"

  /** Restore (idMap, stage) saved by [[LoadOperation.saveState]]; throws
    * [[StateDir.Unreadable]] when `dir` holds no readable checkpoint. */
  def loadState(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, LoadStage.Value) = {
    val sd = new StateDir(spark, dir, Manifest)
    val m = sd.read()
    val name = m.path("stage").asText()
    val stage = LoadStage.values.find(_.toString == name).getOrElse(
      throw new StateDir.Unreadable(dir, s"unknown load stage '$name'"))
    (sd.part(m.path("id_map").asText()), stage)
  }
}
