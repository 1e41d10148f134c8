package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableSchema
import graft.core.Lineage.LineageOps

/** The engine's I/O seam — the role `api.Connection` plays in the reference
  * (/root/reference/amaxa/api.py). The reference's five connection methods
  * collapse to three: `scan` (bulk_api_query; retrieve-by-id and
  * query-by-reference become semi joins on the scan), `insert`, `update`.
  *
  * Results are DataFrames keyed by the original id — NOT positional lists
  * (the reference zips results against input order, amaxa/amaxa.py:435-450,
  * which cannot survive distribution).
  */
trait TableStore {
  def spark: SparkSession
  def schema(table: String): TableSchema

  /** Full relation for `table`, including its id column. */
  def scan(table: String): DataFrame

  /** Insert rows; returns `(originalId, newId, error)` — error null on
    * success. Implementations synthesize new ids deterministically.
    */
  def insert(table: String, rows: DataFrame, originalIdCol: String): DataFrame

  /** Update rows by id; returns `(id, error)`. */
  def update(table: String, rows: DataFrame, idCol: String): DataFrame
}

/** In-memory store over registered DataFrames: the unit-test seam (analogue
  * of the reference's MockConnection, test/test_unit/MockConnection.py:22-94)
  * and the local stand-in for a live org. Inserts land in a mutable map;
  * new ids are `sha2(table || original-id)`-derived → deterministic and
  * collision-free for test scale, computed distributed (no driver loop).
  */
final class InMemoryTableStore(
    val spark: SparkSession,
    schemas: Map[String, TableSchema]) extends TableStore {

  private var data: Map[String, DataFrame] = Map.empty
  def register(table: String, df: DataFrame): Unit = synchronized {
    data += (table -> df)
  }

  def schema(table: String): TableSchema = schemas(table)
  def scan(table: String): DataFrame =
    data.getOrElse(table, spark.emptyDataFrame)

  /** Deterministic synthesized id: keyPrefix + 15 hex chars of sha2. */
  private def newIdExpr(table: String, orig: org.apache.spark.sql.Column) = {
    val prefix = schemas.get(table).map(_.keyPrefix).filter(_.nonEmpty).getOrElse("X00")
    concat(lit(prefix), substring(sha2(concat(lit(table), orig.cast("string")), 256), 1, 15))
  }

  def insert(table: String, rows: DataFrame, originalIdCol: String): DataFrame = {
    val withNew = rows.withColumn("__new_id", newIdExpr(table, col(originalIdCol)))
    val stored = withNew.drop(originalIdCol)
      .withColumnRenamed("__new_id", schema(table).idField)
    // No cut here: the load engine hands over materialized rows and the
    // id is a pure projection of them, so the table stays a cheap plan
    // over cut frames — its stats pass over the returned result already
    // runs the one job this insert needs.
    synchronized {
      data += (table -> (data.get(table) match {
        case Some(existing) => existing.unionByName(stored, allowMissingColumns = true)
        case None => stored
      }))
    }
    withNew.select(
      col(originalIdCol).as("originalId"),
      col("__new_id").as("newId"),
      lit(null).cast("string").as("error"))
  }

  def update(table: String, rows: DataFrame, idCol: String): DataFrame = {
    val idf = schema(table).idField
    val updates = rows.withColumnRenamed(idCol, idf)
    val updCols = updates.columns.filterNot(_ == idf)
    // Updates against ids that do not exist must surface as row errors,
    // not silent no-ops (the left-join merge below ignores them). Lazy:
    // it is read once, by the returned result, against the pre-merge
    // table this captures.
    val existing0 = synchronized(data.get(table))
    val missing = (existing0 match {
      case Some(e) => updates.join(e.select(col(idf)), Seq(idf), "left_anti")
      case None => updates
    }).select(col(idf).cast("string").as("__miss_id"))
    if (existing0.isEmpty)
      return rows.select(col(idCol).cast("string").as("id"),
        lit(s"Id not found in $table").as("error"))
    synchronized {
      val existing = data(table)
      // Columns the insert stage stripped (deferred FKs) materialize here,
      // like org columns that simply weren't populated at insert.
      val allCols = existing.columns.filterNot(_ == idf) ++
        updCols.filterNot(existing.columns.contains)
      val merged = existing.alias("e")
        .join(updates.alias("u"), col(s"e.$idf") === col(s"u.$idf"), "left")
        .select(col(s"e.$idf") +: allCols.toIndexedSeq.map { c =>
          val fromUpd =
            if (updCols.contains(c))
              // empty-string means "not populated" in the wire model; keep old
              when(col(s"u.$c").isNotNull && col(s"u.$c") =!= "", col(s"u.$c"))
            else when(lit(false), lit(null))
          val fromOld =
            if (existing.columns.contains(c)) col(s"e.$c")
            else lit(null).cast("string")
          fromUpd.otherwise(fromOld).as(c)
        }: _*)
      data += (table -> merged.cutLineage)
    }
    rows.select(col(idCol).cast("string").as("id"))
      .join(missing, col("id") === col("__miss_id"), "left")
      .select(col("id"),
        when(col("__miss_id").isNotNull, lit(s"Id not found in $table"))
          .otherwise(lit(null).cast("string")).as("error"))
  }
}

/** Parquet-backed read-only store over a testdata directory, with per-table
  * id/FK adapters supplied by the catalog.
  */
final class ParquetTableStore(
    val spark: SparkSession,
    dir: String,
    schemas: Map[String, TableSchema],
    adapt: Map[String, DataFrame => DataFrame] = Map.empty) extends TableStore {
  def schema(table: String): TableSchema = schemas(table)
  def scan(table: String): DataFrame = {
    val df = graft.Tables.load(spark, dir, table)
    adapt.get(table).map(_(df)).getOrElse(df)
  }
  def insert(table: String, rows: DataFrame, originalIdCol: String): DataFrame =
    throw new UnsupportedOperationException("read-only store")
  def update(table: String, rows: DataFrame, idCol: String): DataFrame =
    throw new UnsupportedOperationException("read-only store")
}
