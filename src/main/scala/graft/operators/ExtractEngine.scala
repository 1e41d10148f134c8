package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, LookupSets}
import graft.functions.GraftFunctions
import graft.sources.TableStore

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.core.Lineage.LineageOps

/** Seeded-reachability extraction over a graph of FK-linked tables — the
  * Spark-native re-expression of the reference's ExtractOperation /
  * ExtractionStep (/root/reference/amaxa/amaxa.py:538-845).
  *
  * Architecture: all per-table state (extracted rows, extracted-id sets,
  * required-id sets) lives in DataFrames; traversal passes are semi joins;
  * the self-lookup recursion (amaxa/amaxa.py:696-726) is a driver-side
  * fixpoint loop over eagerly-counted, checkpointed DataFrames. Unlike the
  * reference's insertion-order-dependent row-at-a-time trace, every pass
  * here is a monotone set operation, so the result is order-free.
  *
  * Scale posture: id sets stay distributed (never collected); membership
  * checks are joins that AQE turns into broadcasts while the sets are
  * small; `Lineage.cut` (localCheckpoint locally, reliable checkpoint on
  * a cluster via spark.graft.checkpoint.reliable) bounds plan growth per
  * pass.
  */
final class ExtractOperation(
    store: TableStore,
    catalog: Catalog,
    steps: Seq[ExtractStep]) {

  private val order: Seq[String] = steps.map(_.sobject)
  private val orderIdx: Map[String, Int] = order.zipWithIndex.toMap
  private def spark = store.spark

  // Per-table accumulated state. Ids are kept as single-column ("__id")
  // DataFrames that are DISTINCT BY CONSTRUCTION: every fold into
  // `extractedIds` is the id projection of a batch that was
  // dropDuplicates'd on the id field and anti-joined against the
  // accumulator first, so folds are unique within themselves and disjoint
  // from the accumulator. Consumers rely on this — withMembership uses a
  // LEFT join (duplicates would fan rows out) — and it lets the
  // accumulator be a LAZY union of projections over already-checkpointed
  // batches: no per-pass distinct shuffle, no per-pass re-checkpoint job.
  private val extractedRows = mutable.Map.empty[String, DataFrame]
  private val extractedIds = mutable.Map.empty[String, DataFrame]
  private val requiredIds = mutable.Map.empty[String, DataFrame]
  // Folds into extractedIds since its last compaction, and the frame a
  // compaction produced: a union accumulator analyzed/evaluated per pass
  // costs O(width) driver time, so every `idCompactEvery` folds it is
  // collapsed to one checkpointed frame and the PREVIOUS compact's blocks
  // are released (requiredIds is cut first — its lazy chain may reference
  // accumulator snapshots through addDependency's anti-joins).
  private val idFolds = mutable.Map.empty[String, Int]
  private val idCompactCut = mutable.Map.empty[String, DataFrame]
  private val idCompactEvery = 64
  // Tables whose required-id set changed since their last resolve pass:
  // a resolve against an unchanged (already-drained) set is a guaranteed
  // no-op, and skipping it saves its whole eager job chain — the
  // fixpoint loop otherwise pays it every iteration after the set drains.
  private val depsDirty = mutable.Set.empty[String]
  val errors = mutable.Map.empty[String, mutable.Buffer[String]]

  private def emptyIds: DataFrame = {
    val sp = spark; import sp.implicits._
    Seq.empty[String].toDF("__id")
  }

  /** Id projection of a stored batch. No distinct: callers pass frames
    * already unique on the id field (storeResult's dropDuplicates), and a
    * distinct here would put a shuffle inside the lazy id-accumulator
    * union, re-paid on every accumulator evaluation.
    */
  private def idsOf(df: DataFrame, table: String): DataFrame = {
    val idf = catalog(table).idField
    df.select(col(idf).cast("string").as("__id")).where(col("__id").isNotNull)
  }

  private def errBuf(t: String) = errors.getOrElseUpdate(t, mutable.Buffer.empty)

  def getExtractedIds(t: String): DataFrame = extractedIds.getOrElse(t, emptyIds)
  def getRequiredIds(t: String): DataFrame = requiredIds.getOrElse(t, emptyIds)

  /** Canonicalize + column-prune a scan to the step's field scope.
    * Salesforce-id tables get 15→18 canonicalization on id/reference
    * columns at ingest, so all set algebra runs on canonical ids
    * (the reference wraps every comparison in SalesforceId instead).
    */
  private def scanScoped(step: ExtractStep, where: Option[String] = None): DataFrame = {
    val sch = catalog(step.sobject)
    // User WHERE clauses evaluate against the RAW columns (before 15→18
    // canonicalization) so 15-char id literals in predicates still match,
    // like a server-side SOQL WHERE would.
    val base = where.foldLeft(store.scan(step.sobject))((df, w) => df.filter(expr(w)))
    val cols = step.fieldScope.map { f =>
      val c = col(f)
      if (sch.salesforceIds &&
          (f == sch.idField || sch.fieldMap.get(f).exists(_.isReference)))
        GraftFunctions.canonical_id(c.cast("string")).as(f)
      else c
    }
    base.select(cols: _*)
  }

  /** The WHERE-less scoped scan, built once per step and reused: the
    * fixpoint loop re-derives this identical subplan in every lookup and
    * resolve pass, and each fresh Dataset pays its own Catalyst analysis —
    * measured ~0.3–0.6 s of pure driver time over a ~12-iteration fixpoint
    * (OPTIMIZATION_r13.md, x_engine gates; graft.tools.Ledger's `plan.*`
    * fields re-measure it). Datasets are immutable, so reuse is free.
    */
  private val scopedScans = mutable.Map.empty[String, DataFrame]
  private def scanScopedCached(step: ExtractStep): DataFrame =
    scopedScans.getOrElseUpdate(step.sobject, scanScoped(step))

  /** Reference add_dependency (amaxa/amaxa.py:569-573): required ∪= ids
    * not already extracted. `ids` must be a single-column "__id" frame.
    */
  private def addDependency(table: String, ids: DataFrame): Unit = {
    val fresh = ids.join(getExtractedIds(table), Seq("__id"), "left_anti")
    requiredIds(table) = requiredIds.get(table) match {
      case Some(r) => r.unionByName(fresh).distinct()
      case None => fresh.distinct()
    }
    depsDirty += table
  }

  /** Membership marker: adds boolean column `marker` = value ∈ ids(table),
    * matching on `valueCol`. */
  private def withMembership(df: DataFrame, valueCol: Column, table: String,
      marker: String): DataFrame = {
    val ids = getExtractedIds(table).withColumnRenamed("__id", marker + "_id")
    df.join(ids, valueCol.cast("string") === col(marker + "_id"), "left")
      .withColumn(marker, col(marker + "_id").isNotNull)
      .drop(marker + "_id")
  }

  /** The batch analogue of ExtractionStep.store_result
    * (amaxa/amaxa.py:728-803): dedup against accumulated ids, register
    * self/dependent-lookup dependencies, apply outside-reference behavior
    * on descendent lookups, then fold the survivors into the accumulators.
    */
  private def storeResult(step: ExtractStep, ls: LookupSets, batch: DataFrame): Boolean = {
    val t = step.sobject
    val sch = catalog(t)
    val idf = sch.idField
    val fm = sch.fieldMap

    val (newRows, newCount) = graft.core.Lineage.cutCounted(batch
      .dropDuplicates(Seq(idf))
      .join(getExtractedIds(t), col(idf).cast("string") === col("__id"), "left_anti"))
    if (newCount == 0) return false

    // Self-lookup dependencies (parents of the batch) — amaxa:744-747.
    ls.self.toSeq.sorted.foreach { f =>
      if (step.selfBehavior(f) != SelfLookupBehavior.TraceNone)
        addDependency(t, newRows.select(col(f).cast("string").as("__id"))
          .where(col("__id").isNotNull).distinct())
    }

    // Dependent-lookup dependencies — amaxa:749-774.
    ls.dependent.toSeq.sorted.foreach { f =>
      val refTo = fm(f).referenceTo
      val vals = newRows.select(col(f).cast("string").as("__id"))
        .where(col("__id").isNotNull).distinct()
      if (refTo.size == 1) addDependency(refTo.head, vals)
      else refTo.filter(orderIdx.contains).foreach { target =>
        // Polymorphic: route by 3-char key prefix; targets earlier in the
        // hierarchy are handled by the descendent (outside-ref) pass.
        if (orderIdx(target) >= orderIdx(t)) {
          val prefix = catalog(target).keyPrefix
          if (prefix.nonEmpty)
            addDependency(target, vals.where(substring(col("__id"), 1, 3) === prefix))
        }
      }
    }

    // Outside-reference (cross-hierarchy) handling on descendent lookups —
    // amaxa:776-800. Marker joins compute membership per target table;
    // Include behavior needs no marker at all, so skip the joins entirely.
    var out = newRows
    ls.descendent.toSeq.sorted
      .filter(f => step.outsideBehavior(f) != OutsideLookupBehavior.Include)
      .foreach { f =>
      val refTo = fm(f).referenceTo
      val marker = s"__in_$f"
      if (refTo.size == 1) {
        out = withMembership(out, col(f), refTo.head, marker)
      } else {
        // Polymorphic: membership = present in the prefix-matched target.
        var m = out.withColumn(marker, lit(false))
        refTo.filter(t2 => orderIdx.contains(t2) && catalog(t2).keyPrefix.nonEmpty)
          .foreach { target =>
            val tm = s"${marker}_${target}"
            m = withMembership(m, col(f), target, tm)
              .withColumn(marker,
                when(substring(col(f).cast("string"), 1, 3) === catalog(target).keyPrefix,
                  col(tm)).otherwise(col(marker)))
              .drop(tm)
          }
        out = m
      }
      val missing = col(f).isNotNull && !col(marker)
      step.outsideBehavior(f) match {
        case OutsideLookupBehavior.Include => () // filtered out above
        case OutsideLookupBehavior.DropField =>
          out = out.withColumn(f, when(missing, lit(null)).otherwise(col(f)))
        case OutsideLookupBehavior.Error =>
          // Deterministic, bounded error sample + exact total (collecting
          // every offender would not survive scale).
          val bad = out.where(missing)
            .select(col(idf).cast("string"), col(f).cast("string"))
          val total = bad.count()
          if (total > 0) {
            bad.orderBy(col(idf)).limit(20).collect().foreach { r =>
              errBuf(t) += s"$t ${r.getString(0)} has an outside reference in field $f " +
                s"(${r.getString(1)}), which is not allowed by the extraction configuration."
            }
            if (total > 20)
              errBuf(t) += s"$t: ... and ${total - 20} more outside references in field $f."
          }
      }
      out = out.drop(marker)
    }
    // newRows is already materialized; re-checkpoint only if the
    // outside-reference pass actually rewrote columns.
    if (out ne newRows) out = out.cutLineage

    // Fold into accumulators — amaxa ExtractOperation.store_result:600-619.
    extractedRows(t) = extractedRows.get(t) match {
      case Some(acc) => acc.unionByName(out)
      case None => out
    }
    // Mid-step checkpoint delta: `out` is already lineage-cut, so
    // buffering it costs nothing until a save drains the buffer.
    partialBuf += out
    // outIds derives from the checkpointed `out` (cheap projection; no
    // extra materialization needed). Both accumulators fold LAZILY: the
    // id union is distinct-by-construction (see field doc) and every leaf
    // is a projection of a checkpointed batch, so evaluating it is a
    // narrow scan — the per-pass distinct + re-checkpoint jobs the old
    // code paid here were pure scheduler overhead (measured ~3 jobs per
    // storeResult, dominating the many-small-jobs engine gates).
    val outIds = idsOf(out, t)
    requiredIds.get(t).foreach { r =>
      requiredIds(t) = r.join(outIds, Seq("__id"), "left_anti")
    }
    extractedIds(t) = extractedIds.get(t) match {
      case Some(acc) => acc.unionByName(outIds)
      case None => outIds
    }
    // Bound the lazy accumulator's width: driver-side analysis of a union
    // grows with fold count, so long traversals compact it periodically.
    // requiredIds is cut FIRST — its lazy chain (addDependency anti-joins)
    // may reference prior accumulator snapshots, which the release of the
    // superseded compact would otherwise orphan.
    val folds = idFolds.getOrElse(t, 0) + 1
    idFolds(t) = folds
    if (folds % idCompactEvery == 0) {
      requiredIds.get(t).foreach { r => requiredIds(t) = r.cutLineage }
      val compacted = extractedIds(t).cutLineage
      extractedIds(t) = compacted
      idCompactCut.get(t).foreach(graft.core.Lineage.release)
      idCompactCut(t) = compacted
    }
    true
  }

  /** Reference resolve_registered_dependencies (amaxa/amaxa.py:805-818).
    * Returns true iff the pass stored new rows.
    */
  private def resolveRegisteredDependencies(step: ExtractStep, ls: LookupSets): Boolean = {
    val t = step.sobject
    // Nothing registered since the last resolve → the set is either empty
    // or exactly the already-reported missing ids; both make this pass a
    // no-op (and skipping also avoids duplicating the missing-id error
    // once per subsequent fixpoint iteration).
    if (!depsDirty.contains(t)) return false
    // Clear BEFORE the pass: storeResult below may register fresh self
    // dependencies for the next iteration, which must re-mark the table.
    depsDirty -= t
    // Round-13 adjudication (kept for the record): fusing this pre-count
    // into the fetch (cutLazy(pre) + skip the early exit, letting AQE
    // empty-propagate the semi join) was built and A/B'd — jobs fell 6 on
    // the non-empty-resolve traversals (44→38 / 71→65) but rose 11 on the
    // fixpoint, whose resolves are almost always EMPTY after the seed
    // settles (each pass's self-deps are the parents that FOUND the new
    // children — already extracted), and every wall delta was inside
    // noise. The count-then-early-exit shape is the better trade: the
    // pre-count is the required-id plan's own exchanges plus one narrow
    // count job (Lineage.cutCounted's budget) versus a broadcast-build +
    // empty-propagated count pipeline per drained iteration. Driver REPLAN per pass is
    // measured NOT the cost (OPTIMIZATION_r13.md: analysis + optimization
    // + planning ≈ 0.4 s of a 5.6 s warm fixpoint wall; graft.tools.Ledger's
    // `plan.*` fields re-measure it).
    val (pre, preCount) = graft.core.Lineage.cutCounted(getRequiredIds(t))
    requiredIds(t) = pre
    if (preCount == 0) return false
    val idf = catalog(t).idField
    val fetch = scanScopedCached(step)
      .join(pre, col(idf).cast("string") === col("__id"), "left_semi")
    // Unresolvable ids are NOT reported here: they stay behind in
    // requiredIds (the fetch drain removes only extracted ids), and
    // reportMissingDependencies surfaces the final set once per step —
    // a fixpoint loop would otherwise pay the missing-check jobs every
    // iteration for an answer that only matters at step end.
    storeResult(step, ls, fetch)
  }

  /** One end-of-step missing-dependency report: everything still in the
    * required set after all passes and resolves is unresolvable (the
    * reference reports per resolve_registered_dependencies call,
    * amaxa/amaxa.py:810-817; the per-step union of those reports is this
    * same set, because required ids only leave the set by extraction).
    */
  private def reportMissingDependencies(step: ExtractStep): Unit = {
    val t = step.sobject
    if (!requiredIds.contains(t)) return
    val (missingDf, missingTotal) = graft.core.Lineage.cutCounted(
      getRequiredIds(t).join(getExtractedIds(t), Seq("__id"), "left_anti"))
    if (missingTotal > 0) {
      val sample = missingDf.orderBy(col("__id")).limit(20)
        .collect().map(_.getString(0))
      val suffix = if (missingTotal > 20) s" (and ${missingTotal - 20} more)" else ""
      errBuf(t) += s"Unable to resolve dependencies for sObject $t. The " +
        s"following Ids could not be found: ${sample.mkString(", ")}$suffix"
    }
  }

  /** Reference perform_lookup_pass (amaxa/amaxa.py:837-844), batched over
    * ALL the step's lookup fields: children whose FK lands in the
    * extracted-id set of any referent table, one semi join per field,
    * unioned into ONE storeResult. Returns true iff the pass stored new
    * rows. The reference iterates per field; running one storeResult per
    * field here meant one materializing count job per field per fixpoint
    * iteration — batching makes it one job per iteration, and the
    * fixpoint is monotone (ids only grow), so the converged set is
    * identical, only the discovery schedule differs. No distinct on the
    * parent union: the per-table id sets are distinct by construction and
    * disjoint across tables (globally-unique ids), and the consumer is a
    * semi join, which is duplicate-insensitive anyway; cross-field
    * overlaps collapse in storeResult's id dropDuplicates.
    */
  private def performLookupPass(step: ExtractStep, ls: LookupSets,
      fields: Seq[String]): Boolean = {
    val t = step.sobject
    val batches = fields.flatMap { field =>
      val parents = catalog(t).fieldMap(field).referenceTo
        .filter(extractedIds.contains)
        .map(getExtractedIds)
        .reduceOption(_ unionByName _)
      parents.map { p =>
        scanScopedCached(step)
          .join(p, col(field).cast("string") === col("__id"), "left_semi")
      }
    }
    batches.reduceOption(_ unionByName _)
      .exists(rows => storeResult(step, ls, rows))
  }

  /** Mid-step (fixpoint) checkpoint state. `partialBuf` collects the
    * lineage-cut row batches the CURRENT step has stored since the last
    * save; each save drains it into one delta part, so a mid-step save
    * costs O(rows discovered since the last save) — NOT O(accumulated
    * rows), which over a deep fixpoint would be quadratic (the long job
    * at 100 TB is exactly one table's O2 fixpoint). `partialDeltas` are
    * the step's saved deltas, restored ones included: every mid-step
    * manifest lists all of them, and a directory that lacks one (a resume
    * that checkpoints elsewhere) gets it written.
    */
  private val partialBuf = mutable.Buffer.empty[DataFrame]
  private val partialDeltas = mutable.Buffer.empty[DataFrame]
  /** Set by [[loadState]] when the checkpoint ended mid-step: the
    * in-progress table (its scope pass is already contained in the
    * restored deltas, so the resumed step skips it) and the pass
    * counter reached. */
  private var resumePartial: Option[(String, Int)] = None

  /** One [[StateDir]] per directory restored from or saved into: which
    * frames a directory already holds is a fact about that directory. */
  private val stateDirs = mutable.Map.empty[String, StateDir]
  private def stateAt(dir: String): StateDir =
    stateDirs.getOrElseUpdate(new java.io.File(dir).getCanonicalPath,
      new StateDir(spark, dir, "extract_state.json"))

  /** Extract-stage checkpoint — the S7 load machinery applied to the
    * traversal, because at 100 TB the EXTRACT is the long job (the
    * reference resumes only loads, amaxa/loader/state.py:10-32). The
    * manifest maps the completed steps' row frames, every table's
    * required-id set (earlier steps register ids into later tables' sets,
    * so they are pass state) and the row errors (pass state too: a
    * resumed run whose passes dedup to zero new rows never re-detects
    * them), plus, mid-step, the in-progress table's deltas and pass
    * counter. Id sets are re-derivable from the row frames, so they are
    * not persisted. A completed table's rows and an unchanged required
    * set are the same frame as at the last save, so a directory writes
    * each once: checkpoint cost is what the pass changed.
    */
  private def save(dir: String, partial: Option[(String, Int)]): Unit = {
    val delta = partial.flatMap(_ => partialBuf.reduceOption(_ unionByName _))
    val doc: Map[String, Any] = Map(
      "completed" -> stepsCompleted,
      "rows" -> order.take(stepsCompleted).flatMap(t => extractedRows.get(t).map(t -> _)).toMap,
      "required" -> requiredIds,
      "errors" -> errors.filter(_._2.nonEmpty)) ++
      partial.map { case (t, pass) =>
        "partial" -> Map("table" -> t, "pass" -> pass, "deltas" -> (partialDeltas ++ delta))
      }
    stateAt(dir).publish(doc)
    partialBuf.clear()
    if (partial.isEmpty) partialDeltas.clear() else partialDeltas ++= delta
  }

  /** Restore a checkpoint: completed tables' rows (+ id sets re-derived
    * from them), required-id sets, row errors and the resume point. The
    * restored frames are lineage-cut, so they never read a part a later
    * save deletes; the in-progress table's deltas are kept uncut only to
    * be listed (or copied) by the next mid-step save. Restored required
    * sets are marked dirty so the first resolve pass of each remaining
    * step actually runs. Throws [[StateDir.Unreadable]], before restoring
    * anything, when `dir` holds no readable checkpoint.
    */
  def loadState(dir: String): Unit = {
    val sd = stateAt(dir)
    val m = sd.read()
    def restored(name: JsonNode): DataFrame = sd.part(name.asText(), graft.core.Lineage.cut)
    stepsCompleted = m.path("completed").asInt()
    m.path("rows").properties().asScala.foreach { e =>
      val rows = restored(e.getValue)
      extractedRows(e.getKey) = rows
      extractedIds(e.getKey) = idsOf(rows, e.getKey)
    }
    m.path("required").properties().asScala.foreach { e =>
      requiredIds(e.getKey) = restored(e.getValue)
      depsDirty += e.getKey
    }
    m.path("errors").properties().asScala.foreach { e =>
      errBuf(e.getKey) ++= e.getValue.elements().asScala.map(_.asText())
    }
    // Mid-step (fixpoint) checkpoint: the in-progress table's accumulated
    // rows are the union of its deltas. Its scope pass is contained in
    // the first delta, so the resumed step re-enters directly at
    // dependency resolution + the fixpoint loop (idempotent either way —
    // storeResult dedups against the restored id set).
    val p = m.path("partial")
    if (p.isObject) {
      val t = p.path("table").asText()
      val deltas = p.path("deltas").elements().asScala.map(n => sd.part(n.asText())).toSeq
      if (deltas.nonEmpty) {
        val rows = graft.core.Lineage.cut(deltas.reduce(_ unionByName _))
        extractedRows(t) = rows
        extractedIds(t) = idsOf(rows, t)
        resumePartial = Some(t -> p.path("pass").asInt())
        partialDeltas ++= deltas
      }
    }
  }

  /** Steps completed, restored ones included; [[execute]] skips them. */
  private var stepsCompleted: Int = 0

  /** Run all steps in order; stop at the first step with errors (reference
    * ExtractOperation.execute, amaxa/amaxa.py:545-567). Returns 0 on
    * success, -1 on error, 1 on a bounded stop (incomplete-but-resumable).
    *
    * With a `stateDir`, a checkpoint is saved after every completed step
    * and after every CHANGED self-lookup fixpoint pass, so at 100 TB —
    * where the long job is ONE table's fixpoint (reference loop
    * amaxa/amaxa.py:696-726) — a kill loses at most one pass.
    * `stopAfterSteps` / `stopAfterPasses` end the run after that many
    * completed steps / changed passes this run: the controlled form of
    * the kill the checkpoint exists for (x_engine_extract_resume,
    * ExtractEngineSpec's byte-identical-CSV tests). Monotone-closure
    * correctness: ids only grow and every pass dedups against them, so
    * resuming from any pass boundary converges to the identical set.
    */
  def execute(stateDir: Option[String] = None, stopAfterSteps: Int = Int.MaxValue,
      stopAfterPasses: Int = Int.MaxValue): Int = {
    // A pass-bounded stop without a state dir would return the
    // "incomplete-but-resumable" code with nothing on disk to resume
    // from — all work silently lost. Fail fast instead.
    require(stopAfterPasses == Int.MaxValue || stateDir.nonEmpty,
      "stopAfterPasses requires a stateDir: a pass-bounded stop is only " +
        "meaningful when each pass was checkpointed")
    // Progress lines mirror the reference's logger messages
    // (amaxa/amaxa.py:546-565). The per-step record count is logged at
    // verbose only: it forces a count job the lazy id accumulators
    // otherwise never pay (see graft.core.Log).
    graft.core.Log.info(
      s"Starting extraction with sObjects ${steps.map(_.sobject).mkString(", ")}")
    steps.drop(stepsCompleted).foreach { step =>
      val t = step.sobject
      graft.core.Log.info(s"$t: starting extraction")
      val ls = catalog.classifyLookups(order, t, step.fieldScope)
      val resumedPass = resumePartial.collect { case (`t`, pass) => pass }
      resumePartial = None
      partialBuf.clear() // a restore fills partialDeltas, never this

      // A mid-step resume restored rows that already CONTAIN the scope
      // pass (the first delta is scope + first resolves) — skip straight to
      // dependency resolution. Re-running it would be a correct no-op
      // (storeResult dedups against the restored ids) but pays a full
      // scan for zero new rows.
      if (resumedPass.isEmpty) step.scope match {
        case ExtractionScope.AllRecords =>
          storeResult(step, ls, scanScoped(step))
        case ExtractionScope.Query(where) =>
          storeResult(step, ls, scanScoped(step, Some(where)))
        case ExtractionScope.Descendents =>
          performLookupPass(step, ls, ls.descendent.toSeq.sorted)
        case ExtractionScope.SelectedRecords(ids) =>
          val sp = spark; import sp.implicits._
          val sch = catalog(t)
          val idDf =
            if (sch.salesforceIds) ids.map(graft.core.SalesforceId.canonicalize).toDF("__id")
            else ids.toDF("__id")
          addDependency(t, idDf)
      }

      resolveRegisteredDependencies(step, ls)

      // Self-lookup fixpoint — amaxa/amaxa.py:696-726. Termination is the
      // changed-flags of the passes themselves (ids only grow, and they
      // grow exactly when a pass stores rows), not a per-iteration count
      // job: the id set never needs materializing just to compare sizes.
      if (ls.self.nonEmpty &&
          step.selfLookupBehavior == SelfLookupBehavior.TraceAll &&
          step.scope != ExtractionScope.AllRecords) {
        var pass = resumedPass.getOrElse(0)
        var passesThisRun = 0
        var changed = true
        while (changed) {
          changed = false
          if (performLookupPass(step, ls, ls.self.toSeq.sorted)) changed = true
          if (resolveRegisteredDependencies(step, ls)) changed = true
          if (changed) {
            pass += 1
            passesThisRun += 1
            stateDir.foreach(save(_, Some(t -> pass)))
            if (passesThisRun >= stopAfterPasses) {
              graft.core.Log.info(
                s"$t: stopping after fixpoint pass $pass (resumable)")
              return 1
            }
          }
        }
      }

      reportMissingDependencies(step)
      if (errBuf(t).nonEmpty) return -1
      graft.core.Log.debug(
        s"$t: extracted ${getExtractedIds(t).count()} records")
      stepsCompleted += 1
      stateDir.foreach(save(_, None))
      if (stepsCompleted >= stopAfterSteps && stepsCompleted < steps.size)
        return 1
    }
    0
  }

  /** Extracted rows with the reference CSV sink's column contract: id
    * first, remaining columns sorted (loader/extract_operation.py:139-145),
    * after applying the table's DataMapper renames/transforms.
    */
  def result(table: String, mapper: Option[DataMapper] = None): DataFrame = {
    val sch = catalog(table)
    // Zero extracted rows is a legitimate outcome (reference writes an
    // empty CSV with headers): synthesize an empty frame with the step's
    // field scope.
    val df0 = extractedRows.getOrElse(table, {
      val scope = steps.find(_.sobject == table)
        .map(_.fieldScope).getOrElse(Seq(sch.idField))
      val schema = org.apache.spark.sql.types.StructType(scope.map(f =>
        org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.StringType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    })
    val df = mapper match {
      case Some(m) =>
        val fm = sch.fieldMap
        val cols = df0.columns.toSeq.map { f =>
          val chain = m.fieldTransforms.get(f)
            .map(sp => graft.core.Transforms.chain(sp,
              graft.core.FieldContext(f, fm.get(f).map(_.soapType).getOrElse("xsd:string"))))
            .getOrElse(identity[Column] _)
          chain(col(f)).as(m.transformKey(f))
        }
        df0.select(cols: _*)
      case None => df0
    }
    val idOut = mapper.map(_.transformKey(sch.idField)).getOrElse(sch.idField)
    val ordered = idOut +: df.columns.filterNot(_ == idOut).sorted.toSeq
    df.select(ordered.map(col): _*)
  }

  def writeCsv(table: String, path: String, mapper: Option[DataMapper] = None): Unit =
    result(table, mapper).write.mode("overwrite").option("header", true).csv(path)
}
