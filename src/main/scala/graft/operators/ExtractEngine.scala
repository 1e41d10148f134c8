package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, LookupSets}
import graft.functions.GraftFunctions
import graft.sources.TableStore

import scala.collection.mutable
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
  private val idCompactEvery: Int =
    spark.conf.getOption("spark.graft.extract.idCompactEvery").map(_.toInt).getOrElse(64)
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
  def getExtractedRows(t: String): Option[DataFrame] = extractedRows.get(t)
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
    * (graft.tools.EnginePhases). Datasets are immutable, so reuse is free.
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
    // measured NOT the cost (graft.tools.EnginePhases: analysis +
    // optimization + planning ≈ 0.4 s of a 5.6 s warm fixpoint wall).
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

  /** Run all steps in order; stop at the first step with errors (reference
    * ExtractOperation.execute, amaxa/amaxa.py:545-567). Returns 0 on
    * success, -1 on error.
    */
  /** Steps already restored by [[loadState]]; [[execute]] skips them. */
  private var resumeFrom: Int = 0

  /** Extract-stage checkpoint — the S7 load machinery applied to the
    * traversal, because at 100 TB the EXTRACT is the long job (the
    * reference resumes only loads, amaxa/loader/state.py:10-32). Saved at
    * step boundaries: the completed steps' accumulated row frames, every
    * table's required-id set (later steps' sets are registered by earlier
    * steps, so they are part of pass state), and a marker naming what is
    * valid. Crash safety is structural, not just ordering: required-id
    * sets go to a fresh `required_v<N>` dir per save and the marker is
    * published by ATOMIC_MOVE, so a kill at any point leaves the previous
    * marker pointing at fully intact parquet (see [[saveVersion]]); id
    * sets are re-derivable from the row frames, so they are not persisted
    * separately.
    */
  /** Row dirs already persisted: a table's row frame is immutable once
    * its step completes (later steps only touch their own table), so
    * per-step saves write ONLY the newly completed table instead of
    * rewriting every earlier one — keeps checkpoint cost O(step), not
    * O(steps²) over a run. */
  private val savedRowDirs = mutable.Set.empty[String]

  /** Version counter for the required-id snapshot directories. Required
    * sets are REWRITTEN on every save (earlier steps register ids into
    * later tables' sets), so each save writes them to a fresh
    * `required_v<N>` directory and only then publishes the marker — the
    * previous version's parquet stays intact until the new marker lands,
    * so a kill at ANY byte of the save leaves the old checkpoint fully
    * authoritative (row dirs are write-once, see [[savedRowDirs]]).
    */
  private var saveVersion: Int = 0

  /** Mid-step (fixpoint) checkpoint state — see [[saveStatePartial]].
    * `partialBuf` collects the lineage-cut row batches the CURRENT step
    * has stored since the last save; each save drains it into one
    * append-only `partial_p<N>` delta dir, so a mid-step save costs
    * O(rows discovered since the last save) — NOT O(accumulated rows),
    * which over a deep fixpoint would be quadratic (the long job at
    * 100 TB is exactly one table's O2 fixpoint). Delta dirs are
    * immutable once written (the row-dir discipline), referenced by the
    * marker's `partial.dirs` list, and GC'd when their step completes.
    */
  private val partialBuf = mutable.Buffer.empty[DataFrame]
  private var partialSeq: Int = 0
  private val partialDirs = mutable.Buffer.empty[Int]
  /** Set by [[loadState]] when the checkpoint ended mid-step: the
    * in-progress table (its scope pass is already contained in the
    * restored partial rows, so the resumed step skips it) and the pass
    * counter reached. */
  private var resumePartial: Option[String] = None
  private var resumePass: Int = 0

  /** Run independent checkpoint parquet writes as ONE concurrent wave
    * (Spark schedules jobs from multiple threads fine) and wait for ALL
    * of them — including the siblings of a failed write, so no zombie
    * write can race a retry's overwrite or gcStale. A save used to pay
    * each table's write job sequentially — scheduler latency × table
    * count per save; the wave pays ~one. The marker is still written
    * strictly AFTER the wave completes, and ALL bookkeeping (savedRowDirs,
    * reqSaved, partial buffers) mutates only after the wave succeeded, so
    * a failed save is fully retryable and the previous marker stays the
    * truth — the kill-at-any-byte contract is untouched.
    */
  private def awaitWrites(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_.apply())
    else {
      import scala.concurrent.{Await, Future, TimeoutException}
      import scala.concurrent.duration._
      implicit val ec = ExtractOperation.saveEc
      // A bounded wait, not Duration.Inf: the wave runs on the SHARED
      // save pool, so one silently hung write would otherwise block
      // every future save in the JVM with zero diagnostic. Generous by
      // default (a checkpoint write should take seconds);
      // spark.graft.save.timeoutSec tunes it for pathological stores.
      val confKey = "spark.graft.save.timeoutSec"
      val timeoutSec = spark.conf.getOption(confKey).map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$confKey must be a whole number of seconds, got '$v'")
        }
        // Positive and inside FiniteDuration's representable range: 0 or
        // a negative would fail every healthy save instantly, an
        // absurdly large value throws from Duration's own range check.
        if (n <= 0 || n > 10L * 365 * 24 * 3600) throw new IllegalArgumentException(
          s"$confKey must be in [1, ${10L * 365 * 24 * 3600}] seconds, got $n")
        n
      }.getOrElse(3600L)
      // Each write runs under one cancellable job group so a timeout can
      // KILL the stragglers before the save is reported failed — a retry
      // must never race a zombie write to the same checkpoint path (the
      // invariant this wave exists to guarantee). cancelJobGroup is not
      // sticky (it only kills jobs active at that instant), so a shared
      // flag ALSO gates each write: a queued future that starts after
      // the cancel never submits its job at all.
      val group = s"graft-save-wave-${java.util.UUID.randomUUID()}"
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sc = spark.sparkContext
      val settled = Future.sequence(writes.map(w => Future {
        if (cancelled.get) throw new IllegalStateException(
          "write skipped: the save wave was already cancelled")
        sc.setJobGroup(group, "graft checkpoint write wave",
          interruptOnCancel = true)
        try w() finally sc.clearJobGroup()
      }.transform(scala.util.Success(_))))
      val results = try Await.result(settled, timeoutSec.seconds) catch {
        case e: TimeoutException =>
          cancelled.set(true)
          sc.cancelJobGroup(group)
          val drained = try { Await.result(settled, 60.seconds); true }
            catch { case _: TimeoutException => false }
          // cancelJobGroup is not sticky: a queued write that passed the
          // `cancelled` check before the flag was set can submit its
          // Spark job AFTER the first cancellation fired. Re-issue after
          // the drain (and once more before throwing) so late-submitted
          // jobs in the group are also killed (ADVICE r11).
          sc.cancelJobGroup(group)
          throw new IllegalStateException(
            s"checkpoint write wave (${writes.size} writes) exceeded " +
              s"$timeoutSec s and was cancelled" +
              (if (drained) "" else " — and some writes did NOT settle " +
                "within the 60 s grace period; the shared save pool may " +
                "be compromised") +
              s"; raise $confKey if the store is genuinely this slow", e)
      }
      // Surface EVERY failed sibling, not just the first: the retry
      // decision needs to know whether one table or the whole store
      // misbehaved.
      val failures = results.collect { case scala.util.Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
    }

  /** Pending row-dir writes for tables completed since the last save.
    * Returns (tables, deferred writes); the caller marks the tables saved
    * only after the wave succeeded. */
  private def pendingRowWrites(dir: String): (Seq[String], Seq[() => Unit]) = {
    val pending = order.take(stepsCompleted).filterNot(savedRowDirs)
      .flatMap(t => extractedRows.get(t).map(t -> _))
    (pending.map(_._1), pending.map { case (t, rows) =>
      () => rows.write.mode("overwrite").parquet(s"$dir/rows/$t")
    })
  }

  def saveState(dir: String): Unit = {
    val (rowTables, rowWrites) = pendingRowWrites(dir)
    val (reqVers, reqPending, reqWrites) = requiredWrites(dir)
    awaitWrites(rowWrites ++ reqWrites)
    savedRowDirs ++= rowTables
    reqPending.foreach { case (t, v, cur) => reqSaved(t) = (v, cur) }
    val errVer = writeErrors(dir)
    writeMarker(dir, markerJson(reqVers, errVer, partial = ""))
    gcStale(dir, reqVers.map(_._2).toSet, errVer, keepPartials = false)
    // The completed step's delta dirs were just deleted; forget them.
    partialBuf.clear(); partialDirs.clear()
  }

  /** Fixpoint-granular checkpoint: drains [[partialBuf]] into a fresh
    * immutable delta dir, rewrites the required-id snapshot, then
    * publishes a marker whose `partial` entry names the in-progress
    * table, the pass counter, and every live delta dir. Same crash
    * discipline as [[saveState]]: all parquet lands before the marker
    * moves, so a kill at any byte resumes from the previous marker.
    */
  private def saveStatePartial(dir: String, table: String, pass: Int): Unit = {
    val deltaSeq: Option[Int] = if (partialBuf.nonEmpty) Some(partialSeq) else None
    val deltaWrite: Seq[() => Unit] = deltaSeq.toSeq.map { seq =>
      val delta = partialBuf.reduce(_ unionByName _)
      () => delta.write.mode("overwrite").parquet(s"$dir/partial_p$seq/$table")
    }
    val (rowTables, rowWrites) = pendingRowWrites(dir)
    val (reqVers, reqPending, reqWrites) = requiredWrites(dir)
    awaitWrites(rowWrites ++ deltaWrite ++ reqWrites)
    // Wave succeeded — only now does the in-memory state claim the dirs.
    savedRowDirs ++= rowTables
    reqPending.foreach { case (t, v, cur) => reqSaved(t) = (v, cur) }
    deltaSeq.foreach { seq =>
      partialDirs += seq
      partialSeq += 1
      partialBuf.clear()
    }
    val errVer = writeErrors(dir)
    val partial = s""","partial":{"table":"$table","pass":$pass,""" +
      s""""dirs":[${partialDirs.mkString(",")}]}"""
    writeMarker(dir, markerJson(reqVers, errVer, partial))
    gcStale(dir, reqVers.map(_._2).toSet, errVer, keepPartials = true)
  }

  /** Last persisted (version, frame identity) per required set — a set
    * whose frame was not REASSIGNED since its last save (every mutation
    * replaces the DataFrame reference) is not rewritten: the marker
    * re-references the old version. Keeps per-pass checkpoint cost
    * proportional to what the pass actually changed, not to every
    * table's outstanding required ids. */
  private val reqSaved = mutable.Map.empty[String, (Int, DataFrame)]

  /** Version table + pending reqSaved updates + deferred writes for the
    * required-id snapshots. The writes join the save's concurrent wave;
    * the caller applies the reqSaved updates only AFTER the wave
    * succeeded, so a failed save leaves every snapshot re-writable. */
  private def requiredWrites(dir: String)
      : (Seq[(String, Int)], Seq[(String, Int, DataFrame)], Seq[() => Unit]) = {
    val ver = saveVersion
    saveVersion += 1
    val writes = Seq.newBuilder[() => Unit]
    val pending = Seq.newBuilder[(String, Int, DataFrame)]
    val vers = requiredIds.keys.toSeq.sorted.map { t =>
      val cur = requiredIds(t)
      reqSaved.get(t) match {
        case Some((v, prev)) if prev eq cur => t -> v
        case _ =>
          pending += ((t, ver, cur))
          writes += (() =>
            cur.write.mode("overwrite").parquet(s"$dir/required_v$ver/$t"))
          t -> ver
      }
    }
    (vers, pending.result(), writes.result())
  }

  /** Error buffers are PASS STATE too: a mid-fixpoint kill after
    * storeResult recorded outside-reference errors must not let the
    * resumed run (whose scope/lookup passes dedup to zero new rows and
    * so never re-detect them) exit 0 where the uninterrupted run exits
    * -1. Records are one-per-line `base64(table):base64(message)` —
    * messages interpolate DATA values (ids, field contents), so no
    * plain-text separator is injection-proof; base64 is. Versioned and
    * GC'd like the required snapshots. Returns -1 when there are no
    * errors (marker omits the file). */
  private var errSaved: (Int, Int) = (-1, 0) // (version, error count at save)

  private def writeErrors(dir: String): Int = {
    def b64(x: String): String = java.util.Base64.getEncoder
      .encodeToString(x.getBytes("UTF-8"))
    val all = errors.toSeq.sortBy(_._1)
      .flatMap { case (t, buf) => buf.map(m => b64(t) + ":" + b64(m)) }
    if (all.isEmpty) -1
    else if (all.size == errSaved._2 && errSaved._1 >= 0) errSaved._1
    else {
      val ver = saveVersion
      saveVersion += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/errors_v$ver.txt"), all.mkString("\n"))
      errSaved = (ver, all.size)
      ver
    }
  }

  private def markerJson(reqVers: Seq[(String, Int)], errVer: Int,
      partial: String): String = {
    val done = order.take(stepsCompleted)
    val err = if (errVer >= 0) s""","errver":$errVer""" else ""
    s"""{"completed":$stepsCompleted,""" +
      s""""rows":[${done.filter(extractedRows.contains).map("\"" + _ + "\"").mkString(",")}],""" +
      s""""required":[${reqVers.map { case (t, v) => s"""{"t":"$t","v":$v}""" }.mkString(",")}]""" +
      err + partial + "}"
  }

  private def writeMarker(dir: String, json: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // Marker published via temp file + ATOMIC_MOVE: a reader (or a crash)
    // sees either the complete old marker or the complete new one, never a
    // torn write.
    val tmp = java.nio.file.Paths.get(s"$dir/extract_state.json.tmp")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(s"$dir/extract_state.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Unreferenced snapshots after a marker publish — required_v*
    * versions no live table references and superseded errors_v* files
    * always; partial_p* deltas once their step completed (best effort;
    * a leftover dir is garbage, never a correctness hazard). */
  private def gcStale(dir: String, liveReqVers: Set[Int], errVer: Int,
      keepPartials: Boolean): Unit =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        (f.isDirectory && (
          (n.startsWith("required_v") &&
            !scala.util.Try(n.stripPrefix("required_v").toInt).toOption
              .exists(liveReqVers.contains)) ||
          n == "required" || // legacy in-place layout, superseded
          (!keepPartials && n.startsWith("partial_p")))) ||
        (n.startsWith("errors_v") && n.endsWith(".txt") &&
          n != s"errors_v$errVer.txt")
      }
      .foreach(f => try graft.core.Fs.deleteRecursively(f.getPath)
        catch { case _: Exception => () })

  /** Restore a [[saveState]] checkpoint: completed tables' rows (+ id
    * sets re-derived from them), required-id sets, and the resume point.
    * Restored required sets are marked dirty so the first resolve pass
    * of each remaining step actually runs.
    */
  def loadState(dir: String): Unit = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/extract_state.json")), "UTF-8")
    def list(key: String): Seq[String] =
      s""""$key":\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    resumeFrom = """"completed":(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(0)
    list("rows").foreach { t =>
      val rows = graft.core.Lineage.cut(spark.read.parquet(s"$dir/rows/$t"))
      extractedRows(t) = rows
      extractedIds(t) = idsOf(rows, t)
      savedRowDirs += t
    }
    // Required-id snapshots: per-table versioned entries ({"t":..,"v":N}
    // — only sets a save actually changed were rewritten at that save's
    // version); legacy fallbacks: a single global "reqver", or the
    // original in-place `required/` layout.
    val perTable = """\{"t":"([^"]+)","v":(\d+)\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toInt).toSeq
    val legacyVer = """"reqver":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    val reqEntries: Seq[(String, String, Option[Int])] =
      if (perTable.nonEmpty)
        perTable.map { case (t, v) => (t, s"required_v$v/$t", Some(v)) }
      else list("required").map { t =>
        (t, legacyVer.map(v => s"required_v$v/$t").getOrElse(s"required/$t"), legacyVer)
      }
    reqEntries.foreach { case (t, path, v) =>
      val frame = graft.core.Lineage.cut(spark.read.parquet(s"$dir/$path"))
      requiredIds(t) = frame
      v.foreach(ver => reqSaved(t) = (ver, frame))
      depsDirty += t
    }
    val errVer = """"errver":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    errVer.foreach { v =>
      def un64(x: String): String =
        new String(java.util.Base64.getDecoder.decode(x), "UTF-8")
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/errors_v$v.txt")), "UTF-8")
      val recs = raw.split("\n").filter(_.nonEmpty)
      recs.foreach { r =>
        val i = r.indexOf(':')
        errBuf(un64(r.substring(0, i))) += un64(r.substring(i + 1))
      }
      errSaved = (v, recs.length)
    }
    saveVersion = ((reqEntries.flatMap(_._3) ++ errVer) :+ -1).max + 1
    // Mid-step (fixpoint) checkpoint: the in-progress table's accumulated
    // rows are the union of the marker's delta dirs. Its scope pass is
    // contained in delta 0, so the resumed step re-enters directly at
    // dependency resolution + the fixpoint loop (idempotent either way —
    // storeResult dedups against the restored id set).
    """"partial":\{"table":"([^"]+)","pass":(\d+),"dirs":\[([0-9,\s]*)\]\}""".r
      .findFirstMatchIn(txt).foreach { m =>
        val t = m.group(1)
        resumePass = m.group(2).toInt
        val dirs = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
        if (dirs.nonEmpty) {
          val rows = graft.core.Lineage.cut(
            dirs.map(n => spark.read.parquet(s"$dir/partial_p$n/$t"))
              .reduce(_ unionByName _))
          extractedRows(t) = rows
          extractedIds(t) = idsOf(rows, t)
          resumePartial = Some(t)
          partialDirs ++= dirs
          partialSeq = dirs.max + 1
        }
      }
  }

  private var stepsCompleted: Int = 0

  def execute(): Int = execute(None, Int.MaxValue)

  /** [[execute]] with checkpointing: `stateDir` saves a resumable
    * checkpoint after every completed step; `stopAfterSteps` ends the run
    * early with exit code 1 (incomplete-but-resumable — the controlled
    * form of the kill the checkpoint exists for, and what the
    * x_engine_extract_resume oracle row and ExtractEngineSpec's
    * byte-identical-CSV test exercise).
    */
  def execute(stateDir: Option[String], stopAfterSteps: Int): Int =
    execute(stateDir, stopAfterSteps, Int.MaxValue)

  /** [[execute]] with PASS-granular checkpointing on top of the
    * step-granular form: `stopAfterPasses` ends the run with exit 1
    * after that many CHANGED fixpoint passes have been saved this run —
    * the controlled kill for mid-fixpoint resume, mirroring
    * `stopAfterSteps` one level down. With a `stateDir`, every changed
    * fixpoint pass publishes a [[saveStatePartial]] checkpoint, so at
    * 100 TB — where the long job is ONE table's self-lookup fixpoint
    * (reference loop amaxa/amaxa.py:696-726) — a kill loses at most one
    * pass, not the whole traversal. Monotone-closure correctness: ids
    * only grow and every pass dedups against them, so resuming from any
    * pass boundary converges to the identical extracted set.
    */
  def execute(stateDir: Option[String], stopAfterSteps: Int,
      stopAfterPasses: Int): Int = {
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
    stepsCompleted = resumeFrom
    steps.drop(resumeFrom).foreach { step =>
      val t = step.sobject
      graft.core.Log.info(s"$t: starting extraction")
      val ls = catalog.classifyLookups(order, t, step.fieldScope)
      val resumingMidStep = resumePartial.contains(t)
      resumePartial = None
      if (!resumingMidStep) partialBuf.clear()

      // A mid-step resume restored rows that already CONTAIN the scope
      // pass (delta 0 is scope + first resolves) — skip straight to
      // dependency resolution. Re-running it would be a correct no-op
      // (storeResult dedups against the restored ids) but pays a full
      // scan for zero new rows.
      if (!resumingMidStep) step.scope match {
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
        var pass = if (resumingMidStep) resumePass else 0
        var passesThisRun = 0
        var changed = true
        while (changed) {
          changed = false
          if (performLookupPass(step, ls, ls.self.toSeq.sorted)) changed = true
          if (resolveRegisteredDependencies(step, ls)) changed = true
          if (changed) {
            pass += 1
            passesThisRun += 1
            stateDir.foreach(saveStatePartial(_, t, pass))
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
      stateDir.foreach(saveState)
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

object ExtractOperation {
  /** Shared pool for checkpoint write waves (daemon threads so a dying
    * application never hangs on it; sized for the widest realistic save
    * wave, not for throughput — each task just blocks on a Spark job). */
  private[operators] lazy val saveEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-save-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))
}
