package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Table reads that carry their schema, so opening a table launches no
  * Spark job. Spark learns a file source's schema with a job per read
  * (a parallelized footer read for parquet, a `take(1)` over the files
  * for CSV); at the CLI's table sizes those jobs cost more than the data.
  * Here the driver reads the same bytes Spark's inference would:
  *
  *  - CSV: the first record of the first data file, tokenized by
  *    univocity with the wire model's `CSVOptions` and named by Spark's
  *    own `CSVUtils.makeSafeHeader` (blank and duplicate names come out
  *    exactly as Spark names them); every column a nullable string.
  *  - parquet: the footer of the first data file (the file Spark's
  *    inference reads when there is no summary file, and Spark writes
  *    none by default), converted by `ParquetFileFormat.readSchemaFromFooter`:
  *    the Spark schema stored in the footer when present, else the
  *    parquet-type conversion.
  *
  * "First" is by file name; a Spark output directory writes the same
  * header or schema into every part file. With no data file (or a
  * partitioned layout, which needs Spark's partition discovery) the read
  * falls back to Spark's inference.
  */
object DriverSchema {

  /** `spark.read` of a `csv` (wire model) or `parquet` table file or
    * output directory, with an explicit schema whenever one is found. */
  def read(spark: SparkSession, path: String, format: String): DataFrame = format match {
    case "parquet" => parquet(spark, path).foldLeft(spark.read)(_ schema _).parquet(path)
    case _ => csv(spark, path).foldLeft(spark.read)(_ schema _)
      .options(GraftDataSource.CsvWireOptions).csv(path)
  }

  /** The schema Spark would infer for a wire-model CSV at `path`. */
  def csv(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val opts = new CSVOptions(GraftDataSource.CsvWireOptions,
      spark.sessionState.conf.csvColumnPruning,
      spark.sessionState.conf.sessionLocalTimeZone)
    dataFiles(conf, path).iterator.flatMap { f =>
      val in = CodecStreams.createInputStream(conf, f.getPath)
      val parser = new CsvParser(opts.asParserSettings)
      try { parser.beginParsing(in, opts.charset); Option(parser.parseNext()) }
      finally { parser.stopParsing(); in.close() }
    }.nextOption().map { header =>
      val names = CSVUtils.makeSafeHeader(header,
        spark.sessionState.conf.caseSensitiveAnalysis, opts)
      StructType(names.toSeq.map(StructField(_, StringType, nullable = true)))
    }
  }

  /** The schema Spark would infer for a parquet file or directory. */
  def parquet(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).headOption.map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `path` itself, or the data files directly under it in name order —
    * none when it is missing or holds subdirectories (partitions). */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) return Seq(st)
    val visible = fs.listStatus(p).toSeq.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    if (visible.exists(_.isDirectory)) Nil
    else visible.sortBy(_.getPath.getName)
  }
}
