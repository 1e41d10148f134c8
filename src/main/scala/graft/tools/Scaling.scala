package graft.tools

/** Dev main: empirical scaling curve across the three testdata SFs — the
  * local evidence for the 100 TB posture. For each representative query
  * it reports per-SF wall time and the sf0.1/sf0.01 ratio against the
  * 10× data ratio: a data-proportional operator reads ≈10 (minus the
  * fixed per-query overhead floor that dominates at tiny SFs — job
  * scheduling, planning, model training constants); anything
  * super-linear is a shape that would not survive a real scale-up.
  *
  * Method notes: SFs run small→large in ONE JVM, so the larger SFs are
  * the warmer ones — which BIASES ratios upward being fair to the claim
  * (a cold-start advantage would shrink them). Session-memoized model
  * state (Materialize) and pinned storage are cleared between every
  * measurement so each reading is a full pipeline run.
  *
  * Usage: runMain graft.tools.Scaling [query ...]  (default: the
  * representative set below). Prints one JSON line for tooling plus a
  * human table.
  */
object Scaling {
  /** One query per major engine family: scan+agg, multi-join, window,
    * near-dup (LSH and exact-prefix), span dedup, tokenizer encode,
    * as-of merge, graph iteration, vector ADC, engine traversal. */
  val Representative: Seq[String] = Seq(
    "q1_pricing_summary", "q5_nation_revenue", "w1_window_topn",
    "d2_minhash_lsh", "d4_ngram_jaccard", "d9_dup_spans",
    "tx_bpe_apply", "ev_asof_merge", "q_pagerank", "vq_pq_topk",
    "x_engine_traversal")

  def main(args: Array[String]): Unit = {
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Representative
    val spark = graft.LocalSession.builder(graft.LocalSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    val times = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Double]
    for (sf <- sfs) {
      try graft.Tables.prepare(spark, sf)
      catch { case _: Throwable => () }
      for (n <- names) {
        graft.core.Materialize.clear(spark)
        graft.core.Lineage.releaseAllStorage(spark)
        val t0 = System.nanoTime()
        try { graft.SparkEntry.queries(n)(spark, sf).count(); () }
        catch { case e: Throwable =>
          System.err.println(s"[scaling] $n @ $sf failed: ${e.getMessage}") }
        times((n, sf)) = (System.nanoTime() - t0) / 1e9
      }
    }
    def f(d: Double) = "%8.2f".format(d)
    println("query                      sf0.001  sf0.01   sf0.1   x(0.1/0.01)")
    names.foreach { n =>
      val Seq(a, b, c) = sfs.map(sf => times((n, sf)))
      println("%-26s %s %s %s %9.1f".format(n, f(a), f(b), f(c), c / b))
    }
    val json = names.map { n =>
      val Seq(a, b, c) = sfs.map(sf => times((n, sf)))
      s""""$n":[${"%.3f".format(a)},${"%.3f".format(b)},${"%.3f".format(c)}]"""
    }.mkString("{\"unit\":\"sec\",\"sfs\":[0.001,0.01,0.1],\"queries\":{", ",", "}}")
    println(json)
    spark.stop()
  }
}
