package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, when}

/** The engine's single lineage-cut seam.
  *
  * Fixpoint loops, id-map accumulators, and signature materialization all
  * need their plan lineage truncated (otherwise every pass re-executes all
  * prior passes). Locally the right tool is an eager `localCheckpoint` —
  * no cluster store round-trip — but on a real cluster localCheckpoint
  * pins blocks to executors and LOSES them on executor death, killing a
  * long fixpoint. Set `spark.graft.checkpoint.reliable=true` (plus
  * `spark.graft.checkpoint.dir`, or a sparkContext checkpoint dir set by
  * the application) and every cut becomes a reliable `checkpoint` on the
  * cluster store instead. One conf, one call site.
  */
object Lineage {
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.checkpoint.reliable").contains("true")) {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val dir = spark.conf.getOption("spark.graft.checkpoint.dir").getOrElse(
          throw new IllegalStateException(
            "spark.graft.checkpoint.reliable=true requires spark.graft.checkpoint.dir " +
              "or a SparkContext checkpoint dir"))
        spark.sparkContext.setCheckpointDir(dir)
      }
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** [[cut]] LAZILY: the returned frame's blocks materialize as a side
    * effect of the caller's next action over it — one scheduler
    * round-trip for cut + action instead of two (the [[cutCounted]]
    * mechanism with a caller-chosen action). The action MUST compute
    * every partition (a global aggregate/TakeOrdered does; a `limit`
    * pushed into the scan does not), otherwise uncomputed partitions
    * re-execute lineage on the next use. Reliable-checkpoint configs
    * fall back to the eager cluster-safe form. */
  def cutLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.checkpoint.reliable").contains("true")) cut(df)
    else df.localCheckpoint(eager = false)
  }

  /** Column-wise sums of a frame of non-null long columns, in ONE narrow
    * pass over its physical rows (no SQL aggregate: under AQE a global
    * aggregate is a shuffle-map job plus a result job). */
  private def sums(df: DataFrame): Array[Long] = {
    val width = df.columns.length
    df.queryExecution.toRdd.mapPartitions { rows =>
      val acc = new Array[Long](width)
      rows.foreach(r => (0 until width).foreach(i => acc(i) += r.getLong(i)))
      Iterator.single(acc)
    }.collect().foldLeft(new Array[Long](width)) { (a, b) =>
      (0 until width).foreach(i => a(i) += b(i)); a
    }
  }

  /** [[cut]] + row count. Iterative engines always need both
    * (materialize the pass result, then branch on emptiness). The count
    * is a plain RDD count over the cut frame's physical rows, and that
    * one job also materializes the checkpoint blocks: the budget is the
    * inner plan's exchanges (their map stages run when the cut plans
    * its input) plus ONE job. `Dataset.count()` would be a global
    * aggregate — two jobs under AQE.
    */
  def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val c = cutLazy(df)
    (c, c.queryExecution.toRdd.count())
  }

  /** [[cut]] + total row count + predicate-match count (a null predicate
    * does not match), same budget as [[cutCounted]]: the inner plan's
    * exchanges plus ONE job. The load engine's stage bodies all follow
    * materialize → "any errors?" → "any rows at all?", which as separate
    * actions is three scheduler round-trips per table.
    */
  def cutStats(df: DataFrame, pred: Column): (DataFrame, Long, Long) = {
    val c = cutLazy(df)
    val Array(n, m) = sums(c.select(lit(1L), when(pred, 1L).otherwise(0L)))
    (c, n, m)
  }

  /** [[cutStats]] + key-cardinality stats: returns (frame, total rows,
    * predicate matches, non-null keys, distinct non-null keys). Lets the
    * load engine detect duplicate input ids without an extra pass: one
    * groupBy(key) shuffles only keys and two counters per key, its map
    * stage materializes the cut, and the narrow pass sums the groups —
    * the inner plan's exchanges plus TWO jobs, where the eager
    * groupBy+join this replaced cost two extra full-lineage jobs per
    * staged table.
    */
  def cutStatsKeyed(df: DataFrame, pred: Column, key: Column)
      : (DataFrame, Long, Long, Long, Long) = {
    val c = cutLazy(df)
    val groups = c.groupBy(key.as("__k"))
      .agg(count(lit(1)).as("__n"), count(when(pred, lit(1))).as("__m"))
    val keyed = col("__k").isNotNull
    val Array(n, m, keys, distinct) = sums(groups.select(col("__n"), col("__m"),
      when(keyed, col("__n")).otherwise(0L), when(keyed, 1L).otherwise(0L)))
    (c, n, m, keys, distinct)
  }

  /** Release the storage behind a frame returned by [[cut]] once it is
    * SUPERSEDED — iterative operators (fixpoint id accumulators, star-
    * contraction rounds) re-cut an accumulator every pass, and without an
    * explicit release every superseded round's blocks stay pinned in
    * executor storage for the life of the session. At 100 TB that pinned
    * memory is the difference between a fixpoint that runs and one that
    * evicts its own shuffle buffers. No-op for frames that are not a
    * materialized cut (reliable checkpoints keep their files; the RDD
    * handle is simply not persisted).
    *
    * Only call this when NO still-live plan references the frame: the cut
    * truncated lineage, so evicted blocks cannot be recomputed.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Drop ALL storage the session has pinned — cached frames and every
    * persisted RDD (checkpoint blocks included). For batch harnesses
    * (Bench/Profile) that run many independent pipelines in one session:
    * query N's dead blocks must not squeeze query N+1's shuffle memory.
    * Never call mid-pipeline — any live cut frame becomes irrecoverable.
    */
  def releaseAllStorage(spark: org.apache.spark.sql.SparkSession): Unit =
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }

  /** `.cutLineage` postfix form so call sites read like the checkpoint
    * calls they replace. */
  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    def cutLineage: DataFrame = Lineage.cut(df)
  }
}
