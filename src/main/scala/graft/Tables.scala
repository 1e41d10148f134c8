package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.DriverSchema

/** Loaders for the driver-generated parquet tables (repo TESTDATA.md).
  * All queries take `(spark, sfDir)` and read through here, so this is the
  * one place that decides how a table arrives: every read carries the
  * schema the driver took from a parquet footer (no inference job), and
  * `events` and `documents` may be read from a copy spread across the
  * session's parallelism ([[spread]]).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => events(spark, dir)
    case "documents" => documents(spark, dir)
    case _ => DriverSchema.read(spark, s"$dir/$name.parquet", "parquet")
  }

  /** Makes this session's one-time copies of `dir`'s tables now, so that
    * no measured query pays for them. */
  def prepare(spark: SparkSession, dir: String): Unit = {
    events(spark, dir)
    documents(spark, dir)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events.ts arrives in whatever resolution the producer wrote:
    * Parquet TIMESTAMP(NANOS) (readable only as a long via the
    * SPARK-40819 legacy conf), TIMESTAMP(MICROS) without timezone
    * (reads as TIMESTAMP_NTZ), or a session-zone timestamp. Normalize
    * to a microsecond TimestampType column so downstream operators see
    * one type regardless of producer version.
    *
    * The nanosAsLong conf is consulted at execution time, so the fix is a
    * NORMALIZING REWRITE inside the conf window: the spread copy is always
    * made, and every events query then reads it lazily. Unlike an
    * in-memory lineage cut, this keeps the parquet scan columnar (column
    * pruning + pushdown intact) and pins nothing in executor storage.
    *
    * Concurrency note: the conf window is session-global. A concurrent
    * thread reading a DIFFERENT nanos-timestamp parquet during it would
    * silently get longs — the engine assumes table setup (first events
    * access per session) is not raced against other nanos reads, which
    * holds for the driver mains (sequential query execution) and the test
    * harness.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val src = s"$d/events.parquet"
    spread(s, src, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      // The raw read stays on Spark's inference: its column types depend
      // on the conf window, and it runs once per session.
      val raw = s.read.parquet(src)
      // Rewrite by the type the file actually reads as: nanos-as-long
      // (legacy producer) → micros; TIMESTAMP_NTZ (micros, no zone) →
      // session-zone timestamp (UTC in every entry point), which is
      // value-identical to what the nanos path produced.
      val ts = raw.schema("ts").dataType match {
        case LongType => expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast(TimestampType)
      }
      Some(raw.withColumn("ts", ts))
    }
  }

  /** documents, read from a spread copy when the corpus scans in fewer
    * splits than the session's parallelism: a small producer file is one
    * split, which would serialize every consumer's per-row work
    * (tokenization, hashing, codecs) into a single task. A corpus already
    * split at least that many ways is read in place.
    */
  def documents(s: SparkSession, d: String): DataFrame = {
    val src = s"$d/documents.parquet"
    spread(s, src) {
      Some(DriverSchema.read(s, src, "parquet"))
        .filter(_.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
    }
  }

  // Weak keys: a strong session key would pin every stopped session (and
  // its copy paths) for the JVM's life in a session-churning driver. The
  // inner map holds only strings, so nothing retains the session once
  // callers drop it.
  private val readPaths = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, String]]())

  /** Reads the parquet table `src` from the path this session reads it
    * from. That path is decided once per (session, src): `copy`, evaluated
    * with `conf` set, yields the frame to write as the table's copy —
    * repartitioned to the session's parallelism under a temp dir removed
    * at JVM exit — or None to read `src` in place. The split count comes
    * from the driver's file listing and every read carries a driver-side
    * schema, so only writing a copy launches jobs.
    */
  private def spread(spark: SparkSession, src: String, conf: (String, String)*)(
      copy: => Option[DataFrame]): DataFrame = {
    val perSession = readPaths.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, String]())
    val path = perSession.computeIfAbsent(src, { _ =>
      val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try copy.fold(src) { df =>
        val out = java.nio.file.Files.createTempDirectory("graft_spread").toString
        graft.core.Fs.deleteOnExit(out)
        df.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(out)
        out
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    })
    DriverSchema.read(spark, path, "parquet")
  }
}
