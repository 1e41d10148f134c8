package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: demonstrate SCALE.md's IVF partition-pruning claim with the
  * REAL query shape — embeddings written partitioned by cell id, then the
  * ann_ivf_topk probe (nprobe centroid ids collected and applied as a
  * literal isin predicate) run against the partitioned layout. Expect the
  * scan's PartitionFilters to show `label IN (…)` — static pruning at
  * planning time — and the post-execution scan metrics to show only the
  * probed partitions read. (A runtime semi join was tried first and does
  * NOT trigger dynamic partition pruning for this probe shape.)
  *
  * Usage: runMain graft.tools.IvfPruneDemo [sfDir]
  * Committed output: docs/IVF_PRUNING.md
  */
object IvfPruneDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_demo").toString
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").partitionBy("label").parquet(dir)
    val e = spark.read.parquet(dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

    // Same probe construction as SimilarityOps.ivf: nearest-3 centroids of
    // the query vector, collected to a literal probe set (nprobe values —
    // bounded metadata, not data).
    val cent = graft.queries.SimilarityOps.centroids(e).localCheckpoint(true)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).localCheckpoint(true)
    val probes = cent.crossJoin(broadcast(q))
      .withColumn("csim", graft.queries.SimilarityOps.cosineCol(col("centroid"), col("qv")))
      .orderBy(col("csim").desc, col("label")).limit(3).select(col("label"))
      .collect().map(_.get(0)).toSeq

    val pruned = e.where(col("vec_id") =!= 0)
      .where(col("label").isin(probes: _*))
      .crossJoin(broadcast(q))
      .withColumn("cosine", graft.queries.SimilarityOps.cosineCol(col("v"), col("qv")))
      .select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)

    println("==== formatted plan (partitioned-by-cell layout) ====")
    pruned.explain("formatted")
    val rows = pruned.collect().length

    // Post-execution scan metrics from the SAME query execution: how many
    // partitions/files were actually read (AQE wraps the plan, so unwrap).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(qs.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    println("==== scan metrics after execution ====")
    scansOf(pruned.queryExecution.executedPlan).foreach { s =>
      s.metrics.toSeq.sortBy(_._1).foreach { case (k, m) =>
        println(f"  $k%-28s = ${m.value}")
      }
    }
    val totalParts = spark.read.parquet(dir).select("label").distinct().count()
    println(s"total partitions in layout = $totalParts, probes = ${probes.size}, topk rows = $rows")
    spark.stop()
  }
}
