package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.execution.datasources.v2.csv.CSVTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face over the [[FileTableStore]] layout:
  *
  * {{{
  *   spark.read.format("graft").option("dir", dir).option("table", "customer").load()
  * }}}
  *
  * resolves `table` against `dir` exactly like [[FileTableStore.scan]]
  * (`<dir>/<table>.parquet` first, `<dir>/<table>.csv` fallback with the
  * reference's all-string wire model) and delegates scan planning to
  * Spark's own file tables — so filter pushdown, column pruning,
  * partition pruning and vectorized reads are the NATIVE ones, asserted
  * in `PlanSpec`. This is the reference's connector seam
  * (amaxa/api.py:140-165 `bulk_api_query`) expressed as a real Spark
  * extension point rather than only a Scala trait: a live connector
  * would swap the delegate `Table` for one speaking the wire protocol
  * while every query above keeps the same `format("graft")` text.
  *
  * Extends the same `FileDataSourceV2` surface Spark's own built-in file
  * sources and the Avro external module use, which keeps this a thin
  * naming layer: zero custom read paths to maintain.
  */
final class GraftDataSource extends FileDataSourceV2 {

  /** V1-fallback format, consulted only if "graft" is ever listed in
    * `spark.sql.sources.useV1SourceList`. The V1 path cannot perform
    * this provider's dir/table resolution (it reads option("path")
    * directly), so it would fail loudly on a missing path rather than
    * misread anything — do NOT add "graft" to the V1 list; the csv
    * fallback file would need per-table format dispatch V1 cannot do.
    */
  override def fallbackFileFormat: Class[_ <: FileFormat] = classOf[ParquetFileFormat]

  override def shortName(): String = "graft"

  override def getTable(options: CaseInsensitiveStringMap): Table =
    makeTable(options, None)

  override def getTable(
      options: CaseInsensitiveStringMap, schema: StructType): Table =
    makeTable(options, Some(schema))

  private def makeTable(
      options: CaseInsensitiveStringMap, schema: Option[StructType]): Table = {
    val (paths, format) = GraftDataSource.resolveOptions(options, getPaths(options))
    val name = s"graft:${paths.mkString(",")}"
    format match {
      case "parquet" =>
        ParquetTable(name, sparkSession,
          GraftDataSource.withoutReserved(options), paths, schema,
          classOf[ParquetFileFormat])
      case "csv" =>
        CSVTable(name, sparkSession,
          GraftDataSource.csvOptions(options), paths, schema,
          classOf[CSVFileFormat])
    }
  }
}

object GraftDataSource {
  /** Option keys consumed by the provider itself (not the file reader). */
  private val Reserved = Set("table", "dir", "path", "paths", "format")

  /** `<dir>/<table>` → (path, format), parquet shadowing csv — the same
    * resolution order as [[FileTableStore.scan]] (persist() writes
    * parquet, so after a mutating run the parquet IS the table).
    */
  def resolve(dir: String, table: String): Option[(String, String)] = {
    val pq = new java.io.File(s"$dir/$table.parquet")
    val csv = new java.io.File(s"$dir/$table.csv")
    if (pq.exists()) Some((pq.getPath, "parquet"))
    else if (csv.exists()) Some((csv.getPath, "csv"))
    else None
  }

  /** Two addressing modes: option(dir)+option(table) (store layout,
    * extension resolved on disk), or plain `.load(path…)` with an
    * optional `format` option (`parquet` default, `csv` for the wire
    * model) — the latter makes the face usable as an ordinary source.
    */
  private def resolveOptions(
      options: CaseInsensitiveStringMap,
      loadPaths: Seq[String]): (Seq[String], String) = {
    val table = options.get("table")
    val dir = options.get("dir")
    if (table != null && dir != null) {
      val (p, f) = resolve(dir, table).getOrElse(throw new IllegalArgumentException(
        s"graft source: no $dir/$table.parquet or .csv"))
      (Seq(p), f)
    } else if (loadPaths.nonEmpty) {
      val f = Option(options.get("format")).getOrElse("parquet")
      if (f != "parquet" && f != "csv") throw new IllegalArgumentException(
        s"graft source: unsupported format '$f' (parquet or csv)")
      (loadPaths, f)
    } else throw new IllegalArgumentException(
      "graft source requires .option(\"dir\", …) + .option(\"table\", …), " +
        "or .load(path) [+ .option(\"format\", \"parquet\"|\"csv\")]")
  }

  private def withoutReserved(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(
      options.asCaseSensitiveMap().asScala.view
        .filterKeys(k => !Reserved(k.toLowerCase(java.util.Locale.ROOT)))
        .toMap.asJava)

  /** The reference's CSV wire model (SURVEY §1.2): header row, strings
    * all the way down, RFC 4180 quoting/embedded newlines. The single
    * definition [[FileTableStore.scan]], the CLI's load inputs and the
    * DSv2 face read through.
    */
  val CsvWireOptions: Map[String, String] = Map(
    "header" -> "true",
    "inferSchema" -> "false",
    "multiLine" -> "true",
    "escape" -> "\"")

  private def csvOptions(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(
      (withoutReserved(options).asCaseSensitiveMap().asScala.toMap ++
        CsvWireOptions).asJava)
}
