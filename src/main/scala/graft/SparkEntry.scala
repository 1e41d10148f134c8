package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped three-table join + aggregation + top-k. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_topk_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.EngineOps.queries ++
      graft.queries.TextOps.queries ++
      graft.queries.PipelineOps.queries ++
      graft.queries.DedupOps.queries ++
      graft.queries.SuffixOps.queries ++
      graft.queries.SimilarityOps.queries ++
      graft.queries.EventOps.queries ++
      graft.queries.MultimodalOps.queries ++
      graft.queries.BpeOps.queries ++
      graft.queries.GraphOps.queries

  /** DuckDB-equivalent SQL per query (driver correctness oracle). */
  lazy val oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.EngineOps.oracle ++
      graft.queries.TextOps.oracle ++
      graft.queries.PipelineOps.oracle ++
      graft.queries.DedupOps.oracle ++
      graft.queries.SuffixOps.oracle ++
      graft.queries.SimilarityOps.oracle ++
      graft.queries.EventOps.oracle ++
      graft.queries.MultimodalOps.oracle ++
      graft.queries.BpeOps.oracle ++
      graft.queries.GraphOps.oracle
}
