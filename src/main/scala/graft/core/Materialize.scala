package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped result materialization: compute a frame ONCE per
  * (session, key), persist it to a session-temp parquet, and serve every
  * later request as a plain parquet scan.
  *
  * This is the engine's shared-intermediate seam — the near-dup pair graph
  * is the canonical case: d2 (pairs), d8 (components over the pairs) and
  * tx_source_overlap (provenance matrix over the pairs) all consume the
  * same verified-pairs frame, and recomputing the full
  * shingle→minhash→band→verify pipeline per consumer triples its cost. A
  * production pipeline materializes the pair table once per corpus
  * delivery for exactly this reason; parquet (not cache()/checkpoint) is
  * deliberate so the artifact survives storage eviction, pins zero
  * executor memory, and reads back columnar with pushdown intact.
  */
object Materialize {
  // Weak session keys: a strong key would pin stopped sessions (and their
  // temp paths) for the JVM's life in a session-churning driver.
  /** Holder whose body runs on first `.value` access, OUTSIDE the map's
    * bin lock — computeIfAbsent only constructs the (cheap) holder. A
    * multi-minute pipeline+write inside computeIfAbsent would hold the
    * ConcurrentHashMap bin lock for its whole duration (blocking unrelated
    * keys in the same bin) and make a reentrant once() from inside `f` an
    * IllegalStateException.
    *
    * The body reference is DROPPED once the value computes: the body
    * closes over the session (it builds and writes a DataFrame), so a
    * retained body would strongly reference the weak map's key from its
    * value and the advertised stopped-sessions-don't-pin cleanup could
    * never fire. Cleared, a computed slot holds only the path string.
    * (Uncomputed slots are transient — both call sites force `.value`
    * immediately after computeIfAbsent; a body that THREW stays set so
    * the lazy val can retry.)
    */
  private final class Slot(body0: () => String) {
    @volatile var computed = false
    private[this] var body: () => String = body0
    lazy val value: String = { val v = body(); computed = true; body = null; v }
  }

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Slot]]())

  /** Read-through: `f` runs at most once per (session, key); its result is
    * written to a temp parquet (removed on JVM exit) and re-read lazily.
    */
  def once(spark: SparkSession, key: String)(f: => DataFrame): DataFrame = {
    val perKey = cache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Slot]())
    val slot = perKey.computeIfAbsent(key, _ => new Slot(() => {
      val out = java.nio.file.Files.createTempDirectory("graft_mat").toString
      Fs.deleteOnExit(out)
      f.write.mode("overwrite").parquet(out)
      out
    }))
    spark.read.parquet(slot.value)
  }

  private val bucketedCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Slot]]())

  /** Unique-per-session suffix for catalog names. Not identityHashCode
    * (not guaranteed unique — a collision would recreate the exact
    * DROP+rewrite race the suffix exists to prevent): a monotone counter
    * assigned on first use, weak-keyed so stopped sessions don't pin. */
  private val sessionTag = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Integer]())
  private val nextTag = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Deterministic catalog name for a (session, key) bucketed
    * materialization. The SESSION component matters: saveAsTable
    * registers in the shared metastore, so two concurrent sessions in
    * this JVM materializing the same key would otherwise fight over one
    * table name (the second's DROP+rewrite yanking the first's live
    * scan). Sessions in SEPARATE JVMs sharing an external metastore are
    * out of scope — point them at distinct databases. */
  private def bucketedTableName(spark: SparkSession, key: String): String =
    "graft_mat_b_" + key.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "") + "_" + Integer.toHexString(key.hashCode) +
      "_s" + sessionTag.computeIfAbsent(spark, _ => nextTag.getAndIncrement())

  /** [[once]] with a BUCKETED layout: the frame is written
    * `bucketBy(nBuckets, bucketCol).sortBy(bucketCol)` into a
    * session-temp path registered in the session catalog, so every later
    * join/aggregate on `bucketCol` consumes the scan's hash-clustered
    * output with NO exchange on this side — the pay-the-shuffle-ONCE
    * layout (src_bucketed_join) applied to shared intermediates that are
    * re-joined many times, e.g. the graph edge table whose per-round
    * rank join would otherwise re-shuffle all m edges every iteration.
    * The write repartitions by the bucket column first so each bucket is
    * one file, not tasks × buckets fragments.
    */
  def onceBucketed(spark: SparkSession, key: String, nBuckets: Int,
      bucketCol: String)(f: => DataFrame): DataFrame = {
    val perKey = bucketedCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Slot]())
    val slot = perKey.computeIfAbsent(key, _ => new Slot(() => {
      val out = java.nio.file.Files.createTempDirectory("graft_mat_b").toString
      Fs.deleteOnExit(out)
      val name = bucketedTableName(spark, key)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      f.repartition(nBuckets, org.apache.spark.sql.functions.col(bucketCol))
        .write.bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .option("path", out).mode("overwrite").saveAsTable(name)
      out
    }))
    slot.value // force the write before the table lookup
    spark.table(bucketedTableName(spark, key))
  }

  /** Keys of this session's artifacts that have been computed (read-only;
    * the cost ledger diffs it around a query). */
  private[graft] def computedKeys(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    Seq(cache, bucketedCache).flatMap(c => Option(c.get(spark)).toSeq)
      .flatMap(_.asScala.collect { case (k, slot) if slot.computed => k }).toSet
  }

  /** Drop every materialized artifact of one session: forget the keys AND
    * delete the temp parquet directories now (deleteOnExit only fires at
    * JVM exit — a long-lived session cycling through many corpora would
    * otherwise accumulate unbounded temp-dir disk). Callers must hold no
    * live frame read from a cleared path. Bench uses this before re-timing
    * a query so the re-run recomputes the full pipeline instead of
    * replaying a session-cached parquet scan as if it were the query.
    */
  def clear(spark: SparkSession): Unit = {
    val perKey = cache.remove(spark)
    if (perKey != null) perKey.values.forEach { slot =>
      // Only computed slots have a path; forcing an uncomputed lazy val
      // here would run the whole pipeline just to delete its output.
      if (slot.computed)
        try Fs.deleteRecursively(slot.value) catch { case _: Throwable => () }
    }
    val perKeyB = bucketedCache.remove(spark)
    if (perKeyB != null) perKeyB.forEach { (key, slot) =>
      if (slot.computed) {
        try spark.sql(s"DROP TABLE IF EXISTS ${bucketedTableName(spark, key)}")
        catch { case _: Throwable => () }
        try Fs.deleteRecursively(slot.value) catch { case _: Throwable => () }
      }
    }
  }
}
