package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Lineage

/** `Lineage.cutCounted` / `cutStats` / `cutStatsKeyed`: the counts, the
  * materialized cut, and the job budget (the inner plan's exchanges plus
  * one job, plus one more for the keyed form), under both cut backends.
  */
class LineageSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** 4 partitions; `v` null on every 5th row, `k` null on every 7th and
    * otherwise one of 10 values (so keys repeat). */
  private def frame(n: Long): DataFrame = spark.range(0, n, 1, 4).select(
    col("id"),
    when(col("id") % 5 =!= 0, col("id")).as("v"),
    when(col("id") % 7 =!= 0, col("id") % 10).as("k"))

  private val pred = col("v") > 3 // null where v is null

  /** The same numbers from plain DataFrame actions. */
  private def expected(df: DataFrame): (Long, Long, Long, Long) = (df.count(),
    df.where(pred).count(), df.where(col("k").isNotNull).count(),
    df.where(col("k").isNotNull).select("k").distinct().count())

  private def cutRddId(c: DataFrame): Int = c.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a cut frame: ${other.nodeName}")
  }

  /** The cut's blocks are in executor storage, every partition. */
  private def assertMaterialized(c: DataFrame): Unit = {
    val id = cutRddId(c)
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
    assert(info.exists(i => i.numCachedPartitions == i.numPartitions),
      s"cut rdd $id not fully persisted: $info")
  }

  private def checkCounts(reliable: Boolean): Unit = Seq(0L, 1L, 1000L).foreach { n =>
    val df = frame(n)
    val (total, matches, keys, distinct) = expected(df)
    val (c1, n1) = Lineage.cutCounted(frame(n))
    assert(n1 == total, s"cutCounted n=$n")
    val (c2, n2, m2) = Lineage.cutStats(frame(n), pred)
    assert((n2, m2) == (total, matches), s"cutStats n=$n")
    val (c3, n3, m3, k3, d3) = Lineage.cutStatsKeyed(frame(n), pred, col("k"))
    assert((n3, m3, k3, d3) == (total, matches, keys, distinct), s"cutStatsKeyed n=$n")
    Seq(c1, c2, c3).foreach { c =>
      // (Storage info lists only RDDs holding bytes, so not the empty cut.)
      if (!reliable && n > 0) assertMaterialized(c)
      assert(c.count() == total)
      Lineage.release(c)
    }
  }

  test("counts: empty frame, null predicate, null and duplicate keys, 4 partitions") {
    assert(frame(1000).rdd.getNumPartitions == 4)
    val (_, _, keys, distinct) = expected(frame(1000))
    assert(keys > distinct && distinct == 10, "fixture must repeat keys")
    checkCounts(reliable = false)
  }

  test("job budget: the inner plan's jobs plus 1 (plus 2 for the keyed form)") {
    // A narrow input has no inner jobs; a shuffled one runs its map stage
    // when the cut plans its input — measured by a bare lazy cut.
    val narrow = () => frame(1000)
    val shuffled = () => frame(1000).groupBy(col("k")).agg(count(lit(1)).as("v"))
    Seq("narrow" -> narrow, "shuffled" -> shuffled).foreach { case (name, mk) =>
      val (bare, inner) = JobCounter(spark)(mk().localCheckpoint(eager = false))
      val (c1, j1) = JobCounter(spark)(Lineage.cutCounted(mk()))
      val (c2, j2) = JobCounter(spark)(Lineage.cutStats(mk(), pred))
      val (c3, j3) = JobCounter(spark)(Lineage.cutStatsKeyed(mk(), pred, col("k")))
      assert((j1, j2, j3) == (inner + 1, inner + 1, inner + 2),
        s"$name: inner=$inner cutCounted=$j1 cutStats=$j2 cutStatsKeyed=$j3")
      Seq(bare, c1._1, c2._1, c3._1).foreach(Lineage.release)
    }
    assert(JobCounter(spark)(frame(1000).localCheckpoint(eager = false))._2 == 0)
  }

  test("reliable checkpoints: the same counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try checkCounts(reliable = true)
    finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }
}
