// Dev probe (not part of the library): empirical scaling point for the
// headline dedup/ANN/ingest chain. Synthesizes an sf1-sized corpus as 10
// content-disjoint copies of sf0.1 (every token suffixed with its copy
// index, ids offset), then times each query at sf0.1 and sf1 and reports
// wall time + total shuffle bytes. Run:
//   sbt "runMain graft.tools.ScaleProbe"
package graft.tools

import org.apache.spark.sql.functions._

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val sf1 = "/tmp/graft_sf1"
    val spark = graft.LocalSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Graph-family sf1 arm (round-13, closes VERDICT r12 #1 / r11 #8):
    // 10 KEY-DISJOINT copies of the sf0.1 relational tables — order,
    // customer and supplier keys offset per copy, so the trade graph is
    // 10 independent components of the sf0.1 graph and LINEAR scaling is
    // the correct expectation for every per-copy-local computation
    // (the same content-disjoint discipline as the suffixed documents).
    if (!new java.io.File(s"$sf1/orders.parquet").exists()) {
      println("[scale] synthesizing sf1 orders/lineitem (10 key-disjoint copies)")
      val ord = spark.read.parquet(s"$base/orders.parquet")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until 10).map { k =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(k * 1000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$sf1/orders.parquet")
      (0 until 10).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 1000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(k * 1000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$sf1/lineitem.parquet")
    }

    if (!new java.io.File(s"$sf1/documents.parquet").exists()) {
      println("[scale] synthesizing sf1 corpus (10 disjoint copies of sf0.1)")
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      (0 until 10).map { k =>
        docs.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          // Suffix every token with the copy index: copies share no
          // shingles, so sf1 behaves as 10 independent corpora — the
          // right shape for a LINEAR-scaling measurement.
          regexp_replace(col("text"), "(\\S+)", s"$$1c$k").as("text"),
          col("lang"), col("source"))
          // n_chars must describe the SUFFIXED text (the quality arm
          // labels from it), not the original.
          .withColumn("n_chars", length(col("text")).cast("long"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$sf1/documents.parquet")
      (0 until 10).map { k =>
        emb.select(
          (col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("label"),
          transform(col("embedding"), x => x + lit(k.toFloat * 0.001f))
            .as("embedding"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$sf1/embeddings.parquet")
    }

    val queries = if (args.nonEmpty) args.toSeq
      else Seq("d2_minhash_lsh", "d12_embedding_lsh",
        "d14_incremental_minhash", "ann_ivf_adaptive", "pipe_ingest_gate")
    Seq("sf0.1" -> base, "sf1" -> sf1).foreach { case (tag, dir) =>
      queries.foreach { name =>
        graft.core.Lineage.releaseAllStorage(spark)
        graft.core.Materialize.clear(spark)
        val (n, c) = Ledger.measure(spark)(graft.SparkEntry.queries(name)(spark, dir).count())
        println(f"[scale] $tag $name%-24s ${c.wallNs / 1e9}%7.2f s  rows=$n%-8d " +
          f"shuffleR=${c.shuffleRead / 1e6}%9.1f MB shuffleW=${c.shuffleWrite / 1e6}%9.1f MB")
      }
    }
    spark.stop()
  }
}
