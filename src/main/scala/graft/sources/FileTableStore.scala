package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableSchema
import graft.core.Lineage.LineageOps

/** Directory-backed store for the CLI: tables are `<dir>/<name>.csv`
  * (header row, all-string wire model — reference S4) or
  * `<dir>/<name>.parquet`. Inserts/updates accumulate like
  * [[InMemoryTableStore]]; `persist()` writes the mutated tables back as
  * parquet (the local stand-in for the target org).
  */
final class FileTableStore(
    val spark: SparkSession,
    dir: String,
    schemas: Map[String, TableSchema]) extends TableStore {

  private val mem = new InMemoryTableStore(spark, schemas)
  private var touched: Set[String] = Set.empty

  def schema(table: String): TableSchema = schemas(table)

  def scan(table: String): DataFrame = {
    if (touched(table)) return mem.scan(table)
    // Resolution (parquet shadows csv) and the CSV wire model are shared
    // with the format("graft") DSv2 face — ONE definition of the layout.
    // The schema is read on the driver: opening a table launches no job.
    GraftDataSource.resolve(dir, table) match {
      case Some((path, format)) => DriverSchema.read(spark, path, format)
      case None => spark.emptyDataFrame
    }
  }

  private def seed(table: String): Unit = synchronized {
    if (!touched(table)) {
      val existing = scan(table)
      // Materialize: persist() later OVERWRITES the same path this frame
      // lazily reads from — without a checkpoint the write would delete
      // the files out from under its own input.
      if (!existing.isEmpty) mem.register(table, existing.cutLineage)
      touched += table
    }
  }

  def insert(table: String, rows: DataFrame, originalIdCol: String): DataFrame = {
    seed(table)
    mem.insert(table, rows, originalIdCol)
  }

  def update(table: String, rows: DataFrame, idCol: String): DataFrame = {
    seed(table)
    mem.update(table, rows, idCol)
  }

  /** Write every mutated table back to `<dir>/<name>.parquet`.
    *
    * `writeOptions` maps each table to its effective bulk-api options
    * (reference per-sobject `options`, loader/schemas.py:96-113): the
    * batch-size caps rows per output file via `maxRecordsPerFile` — the
    * Spark sink's unit that corresponds to one Bulk API batch — and
    * Serial mode writes with a single task the way Serial batches submit
    * one at a time. The default leaves both unset (files split by
    * partition, fully parallel).
    */
  def persist(writeOptions: String => graft.config.OperationOptions =
      _ => graft.config.OperationOptions()): Unit = touched.foreach { t =>
    val o = writeOptions(t)
    val df = mem.scan(t)
    val out = if (o.serial) df.coalesce(1) else df
    val w = out.write.mode("overwrite")
    // Cap rows-per-file only when the user supplied a batch size — the
    // default config must not fragment large writes. Clamp 0 → 1: the
    // reference schema allows batch-size 0 (min 0), but Spark reads
    // maxRecordsPerFile=0 as NO limit — the exact opposite of the
    // tightest batching the user asked for.
    val wb = if (o.bulkBatchSizeExplicit)
      w.option("maxRecordsPerFile", math.max(1L, o.bulkBatchSize.toLong))
    else w
    wb.parquet(s"$dir/$t.parquet")
  }
}
