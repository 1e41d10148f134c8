package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** The connector layer's read policy for `documents`: a corpus that scans
  * in fewer splits than the session's parallelism is read from a copy
  * spread over that parallelism, made once per session; a corpus already
  * split that many ways is read in place.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** 120 rows with repeats (doc_id 0..39, three times each), so the
    * multiset compare below is not a set compare. */
  private def corpus: DataFrame = spark.range(120).select(
    pmod(col("id"), lit(40L)).as("doc_id"),
    concat(lit("text "), pmod(col("id"), lit(7L)).cast("string")).as("text"))

  private def writeCorpus(files: Int): String = {
    val dir = Files.createTempDirectory("graft_tables_spec").toString
    graft.core.Fs.deleteOnExit(dir)
    corpus.repartition(files).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).map { case (k, v) => k -> v.size }

  test("a one-file corpus is read from a copy spread over the session's " +
       "parallelism, with the source's rows, and a repeat read launches no job") {
    val dir = writeCorpus(1)
    val src = s"$dir/documents.parquet"
    assert(spark.read.parquet(src).inputFiles.length == 1)
    val docs = Tables.documents(spark, dir)
    assert(docs.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(docs.inputFiles.forall(!_.contains(src)), docs.inputFiles.mkString(", "))
    assert(multiset(docs) == multiset(spark.read.parquet(src)))
    val (again, jobs) = JobCounter(spark) {
      val df = Tables.documents(spark, dir); df.schema; df
    }
    assert(jobs == 0, s"the repeat read launched $jobs jobs")
    assert(again.inputFiles.toSet == docs.inputFiles.toSet)
  }

  test("a corpus already split at least that many ways is read in place") {
    val par = spark.sparkContext.defaultParallelism
    val dir = writeCorpus(par)
    val src = s"$dir/documents.parquet"
    val (docs, jobs) = JobCounter(spark) {
      val df = Tables.documents(spark, dir); df.schema; df
    }
    assert(jobs == 0, s"reading in place launched $jobs jobs")
    assert(docs.inputFiles.length == par)
    assert(docs.inputFiles.forall(_.contains(src)), docs.inputFiles.mkString(", "))
    assert(docs.rdd.getNumPartitions >= par)
  }
}
