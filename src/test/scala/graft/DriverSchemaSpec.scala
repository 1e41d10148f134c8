package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DriverSchema, FileTableStore, GraftDataSource}

/** Table reads that carry a driver-read schema must see exactly the
  * schema (and rows) Spark's own inference gives, through both the
  * store's `scan` and the CLI's load-input read, and `scan` must launch
  * no Spark job.
  */
class DriverSchemaSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def inferred(path: String, format: String) =
    if (format == "parquet") spark.read.parquet(path)
    else spark.read.options(GraftDataSource.CsvWireOptions).csv(path)

  /** `<dir>/<table>.<format>` read four ways: Spark inference (the
    * reference), the CLI read, the store scan (which must be job-free),
    * and the store scan's rows. */
  private def check(dir: String, table: String, format: String): Unit = {
    val path = s"$dir/$table.$format"
    val want = inferred(path, format)
    val cli = DriverSchema.read(spark, path, format)
    val store = new FileTableStore(spark, dir, Map.empty)
    val (scanned, jobs) = JobCounter(spark) {
      val df = store.scan(table); df.schema; df
    }
    assert(jobs == 0, s"$table: scan launched $jobs jobs")
    assert(cli.schema == want.schema, s"$table: CLI read ${cli.schema} vs ${want.schema}")
    assert(scanned.schema == want.schema, s"$table: scan ${scanned.schema} vs ${want.schema}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("\u0001"))
    assert(rows(scanned) == rows(want), s"$table: rows differ")
    assert(rows(cli) == rows(want), s"$table: CLI rows differ")
  }

  private def writeCsv(dir: String, table: String, text: String): Unit =
    Files.writeString(Paths.get(s"$dir/$table.csv"), text)

  test("CSV files: quoted headers, embedded newline, header only, odd names") {
    val dir = Files.createTempDirectory("graft_driver_schema").toString
    writeCsv(dir, "Quoted",
      "\"Name, Inc\",\"Id\",\"say \"\"hi\"\"\"\n\"Acme, Inc\",1,\"x\"\"y\"\n")
    writeCsv(dir, "Newline", "Id,Note\n1,\"line one\nline two\"\n2,plain\n")
    writeCsv(dir, "HeaderOnly", "Id,Name,ParentId\n")
    writeCsv(dir, "OddNames", "a,a,,b,A,\"\"\n1,2,3,4,5,6\n")
    Seq("Quoted", "Newline", "HeaderOnly", "OddNames").foreach(check(dir, _, "csv"))
    // The odd names come out as Spark names them (no inference fallback).
    assert(DriverSchema.csv(spark, s"$dir/OddNames.csv").map(_.fieldNames.toSeq) ==
      Some(inferred(s"$dir/OddNames.csv", "csv").columns.toSeq))
  }

  test("Spark output directories: CSV part files and parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_driver_schema_dirs").toString
    val df = (1 to 40).map(i => (s"id$i", if (i % 3 == 0) null else s"n,$i", i.toLong, i % 2 == 0))
      .toDF("Id", "Name", "Amount", "Flag").repartition(3)
    df.write.option("header", true).option("escape", "\"").csv(s"$dir/Parts.csv")
    assert(new java.io.File(s"$dir/Parts.csv").listFiles()
      .count(_.getName.startsWith("part-")) > 1, "fixture must have several part files")
    df.write.parquet(s"$dir/Typed.parquet")
    check(dir, "Parts", "csv")
    check(dir, "Typed", "parquet")
    assert(DriverSchema.parquet(spark, s"$dir/Typed.parquet").isDefined)
  }

  test("no data file: falls back to Spark's inference") {
    val dir = Files.createTempDirectory("graft_driver_schema_empty").toString
    val part = s"$dir/Part.parquet"
    spark.range(3).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(part)
    assert(DriverSchema.parquet(spark, part).isEmpty)
    assert(DriverSchema.read(spark, part, "parquet").schema == spark.read.parquet(part).schema)
  }
}
