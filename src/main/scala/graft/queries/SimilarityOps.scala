package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Lineage.LineageOps

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * - Brute-force cosine top-k: the correctness baseline; one broadcast of
  *   the query vector, a single scan, and a distributed top-k
  *   (orderBy+limit → TakeOrderedAndProject — no full sort at scale).
  * - IVF: the 100 TB scale path — coarse quantization into label-derived
  *   centroids, probe the nprobe nearest cells, search only those
  *   partitions. At scale the cells become partition keys (partition
  *   pruning on the probe set); the structure here is the real one.
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  /** Embedding column → array<double>. Public: the streaming twin must
    * use the SAME cast expression or stream/batch bit-parity breaks. */
  def vDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Squared L2 distance as the fixed FP composition the oracles mirror:
    * fold(v·v) + fold(c·c) − 2·fold(v·c). Shared by the batch argmin and
    * the streaming assignment — one definition, no drift. */
  def distSq(v: Column, c: Column): Column = {
    val dotF = graft.functions.GraftFunctions.dot_fold _
    dotF(v, v) + dotF(c, c) - lit(2.0d) * dotF(v, c)
  }

  /** Ordered-fold cosine(a, b) — bit-reproducible in DuckDB list_reduce. */
  def cosineCol(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine(a, b)

  /** Brute-force top-10 cosine neighbors of vec_id 0 (excluded itself). */
  private val bruteForce: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineCol(col("v"), col("qv")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Size of the query batch for [[batchTopK]]. */
  val BatchQueries = 8

  /** Batched ANN — top-10 neighbors for a BATCH of query vectors in ONE
    * corpus scan. The retrieval workload is never one query: the batch
    * (tiny — queries ≪ corpus) is broadcast, every corpus split scores
    * all queries in a single pass, and the per-query top-k is a
    * rank-filter window on (query_id) that lowers to WindowGroupLimit —
    * each task forwards at most k rows per query to the shuffle, so the
    * cost is one scan + a k·|batch|-row exchange, not |batch| separate
    * TakeOrderedAndProject scans of 100 TB.
    */
  /** The shared one-scan batch-top-k body: score every corpus row against
    * the broadcast query batch, keep rows passing `keep`, rank per query
    * (WindowGroupLimit — each task forwards ≤ k rows per query), project
    * `out`. One definition so [[batchTopK]] and [[hardNegatives]] cannot
    * drift in shape, k, or tie-break. */
  private def batchScoredTopK(e: DataFrame, qs: DataFrame, keep: Column,
      out: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(qs))
      .where(keep)
      .withColumn("cosine", cosineCol(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(out: _*)
  }

  private val batchTopK: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
    val qs = e.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    batchScoredTopK(e, qs, col("vec_id") =!= col("query_id"),
      Seq(col("query_id"), col("vec_id"), col("cosine"), col("rank")))
  }

  /** Hard-negative mining — the contrastive-training companion of
    * [[batchTopK]]: for each query in the batch, the top-k most SIMILAR
    * vectors from OTHER label groups (same-group rows are presumed
    * positives/duplicates and excluded). These near-miss negatives are
    * what a retrieval model trains against; random negatives are too
    * easy. Identical scale shape to the batch top-k — one corpus scan,
    * broadcast query batch, per-query WindowGroupLimit — the exclusion
    * is one more predicate on the scored stream, nothing new shuffles.
    */
  private val hardNegatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val qs = e.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"))
    batchScoredTopK(e, qs, col("label") =!= col("qlabel"),
      Seq(col("query_id"), col("vec_id"), col("label"), col("cosine"),
        col("rank")))
  }

  /** k-NN depth for the margin-mining penalties, the mined pairs kept
    * per query, and the acceptance threshold in micro units (ratio
    * margin > 1 ⇔ "closer than your average near neighbor"; production
    * miners run ~1.06 on LASER spaces — here calibrated to this corpus's
    * margin spread, 1.27–1.76 across SFs, so the flag genuinely splits
    * the mined pairs — the EmbedContamTau discipline). Shared with the
    * oracle. */
  val MarginK = 4
  val MarginTopK = 3
  val MarginAcceptMicro = 1400000L

  /** Margin-based pair mining (Artetxe & Schwenk 2019 — the LASER /
    * CCMatrix bitext-mining score). Raw cosine is miscalibrated across
    * embedding-space neighborhoods: hub vectors score high against
    * everything, sparse regions against nothing, so a global cosine
    * threshold over- and under-mines at once. The fix is to score each
    * candidate pair (x, y) RELATIVE to its endpoints' neighborhoods:
    * margin = cos(x, y) / ((penx + peny) / 2), where penx / peny are the
    * mean cosines of x's / y's [[MarginK]] nearest neighbors on the
    * OPPOSITE side. This is the standard aligned-pair miner for
    * parallel-corpus construction (and the general cross-set matcher for
    * any "find my translation/caption/duplicate on the other side"
    * pass); pairs are accepted at margin ≥ [[MarginAcceptMicro]].
    *
    * Scale shape: the query side is bounded (a batch), so its vectors
    * ride into every task as an 8-element LITERAL array — each corpus
    * row computes all its query cosines AND its own peny penalty
    * locally, with zero shuffle. penx is the batch-top-k shape (per-query
    * WindowGroupLimit: ≤ k rows per query leave any task) folded to
    * |batch| rows and broadcast back. Net cost: two corpus scans (one
    * per branch of the penalty join) and a k·|batch|-row exchange —
    * the 8×N scored frame is never materialized or shuffled.
    *
    * Float discipline: every cosine is the shared ordered fold
    * ([[cosineCol]]); both penalty means fold their k terms in FIXED
    * ascending (cosine, id) order after an explicit sort (a plain
    * float sum() would vary with arrival order); the comparable outputs
    * are micro-rounded integers and the final rank orders by the ROUNDED
    * margin (bm25 discipline — a sub-micro ulp can never flip a rank).
    * Tie-break fine print the oracle mirrors exactly: peny's top-k is
    * selected as the largest k under ascending (cosine, qid) — i.e.
    * cosine DESC with qid DESC on ties — while penx selects cosine DESC
    * with vec_id ASC on ties (the batchScoredTopK convention).
    */
  /** MMR candidate-pool size, selected size, and λ numerators (0.7
    * relevance / 0.3 diversity as exact double literals on BOTH engines —
    * no 1−λ subtraction to drift). Shared with the oracle. */
  val MmrPoolK = 10
  val MmrK = 5

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversification pass a RAG serving stack runs on the retrieval
    * pool: greedily select [[MmrK]] of the top-[[MmrPoolK]] candidates,
    * each step taking argmax of 0.7·rel(d) − 0.3·max_{s∈S} cos(d, s)
    * (max over the already-selected set; empty-set max = 0, so pick 1 is
    * pure relevance), ties to the smaller id.
    *
    * Scale shape: the DISTRIBUTED work is the pool build (one corpus
    * scan, the proven exact-cosine TakeOrdered arm — at 100 TB this arm
    * is the IVF adaptive serve) and the pool's pairwise cosine matrix
    * (a [[MmrPoolK]]²-row cross join of broadcast-sized frames, the same
    * fold expression). The greedy walk itself is inherently sequential
    * and runs on ≤ PoolK + PoolK² collected rows — the bounded-metadata
    * budget class (nlist cell ids, 8-shard sketches), NOT a corpus
    * collect. Cross-engine: rel and pairwise cosines are bit-identical
    * (ordered folds), the step score is the same two-literal expression,
    * max over a set is order-free, so selection order matches the
    * oracle's [[MmrK]] unrolled greedy CTE stages exactly (the BPE
    * round-unroll discipline); the reported score micro-rounds HALF_UP
    * on both sides. */
  private val mmrRerank: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
    val q0 = e.where(col("vec_id") === 0).select(col("v").as("qv"))
    val pool = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .withColumn("rel", cosineCol(col("v"), col("qv")))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPoolK)
      .select(col("vec_id"), col("v"), col("rel"))
    val x = pool.select(col("vec_id").as("a"), col("v").as("va"))
    val y = pool.select(col("vec_id").as("b"), col("v").as("vb"))
    val sim = x.crossJoin(y).where(col("a") =!= col("b"))
      .select(col("a"), col("b"), cosineCol(col("va"), col("vb")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rel = pool.select(col("vec_id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var selected = Vector.empty[(Long, Double)]
    var remaining = rel.keySet
    while (selected.size < MmrK && remaining.nonEmpty) {
      val pick = remaining.toSeq.map { id =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.map { case (sid, _) => sim((id, sid)) }.max
        id -> (0.7 * rel(id) - 0.3 * maxSim)
      }.minBy { case (id, sc) => (-sc, id) }
      selected :+= pick
      remaining -= pick._1
    }
    selected.zipWithIndex.map { case ((id, sc), i) =>
      (id, i + 1,
        java.math.BigDecimal.valueOf(sc * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }.toDF("vec_id", "mmr_rank", "score_micro")
  }

  private val marginMining: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
    val corpus = e.where(col("vec_id") >= BatchQueries)
    // Bounded-metadata collect: the query batch itself (8 × dim doubles),
    // the same budget class as the broadcast it would otherwise feed.
    val qRows = e.where(col("vec_id") < BatchQueries)
      .orderBy("vec_id").collect()
    val qArr = array(qRows.map { r =>
      struct(lit(r.getLong(0)).as("qid"),
        typedLit(r.getSeq[Double](1)).as("qv"))
    }: _*)
    val withCos = corpus.withColumn("qc",
      transform(qArr, q => struct(
        cosineCol(col("v"), q.getField("qv")).as("c"),
        q.getField("qid").as("qid"))))
    val topAsc = slice(sort_array(col("qc")), -MarginK, MarginK)
    val penyCol = aggregate(topAsc, lit(0.0d),
      (a, x) => a + x.getField("c")) / lit(MarginK.toDouble)
    val pairs = withCos.withColumn("peny", penyCol)
      .select(col("vec_id"), col("peny"), explode(col("qc")).as("p"))
      .select(col("vec_id"), col("peny"),
        col("p.qid").as("query_id"), col("p.c").as("cosine"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val penx = pairs.withColumn("r", row_number().over(wq))
      .where(col("r") <= MarginK)
      .groupBy("query_id")
      .agg((aggregate(
        sort_array(collect_list(struct(col("cosine"), col("vec_id")))),
        lit(0.0d), (a, x) => a + x.getField("cosine"))
        / lit(MarginK.toDouble)).as("penx"))
    val wm = Window.partitionBy("query_id")
      .orderBy(col("margin_micro").desc, col("vec_id"))
    pairs.join(broadcast(penx), Seq("query_id"))
      .withColumn("margin_micro",
        round(col("cosine") / ((col("penx") + col("peny")) * lit(0.5d))
          * lit(1e6)).cast("long"))
      .withColumn("cos_micro", round(col("cosine") * lit(1e6)).cast("long"))
      .withColumn("rank", row_number().over(wm))
      .where(col("rank") <= MarginTopK)
      .select(col("query_id"), col("vec_id"), col("rank"), col("cos_micro"),
        col("margin_micro"),
        (col("margin_micro") >= lit(MarginAcceptMicro)).as("accepted"))
  }

  /** ORDER-FREE mean of a double column, the oracle-reproducibility
    * contract for every centroid in this file: per-row values quantize to
    * integers at 1e-7 (exact at float32 precision), the integer sum is
    * exact under any partial-aggregation order, and the divisions run in
    * one fixed order (sum → /1e7 → /count). A plain avg(double) varies in
    * the last ulp with shuffle arrival order — unreproducible for the
    * oracle, and on a real cluster a run-to-run unstable probe set.
    * Mirrored textually by [[exactMeanSql]].
    */
  private def exactMean(x: Column): Column =
    sum(round(x * lit(1e7)).cast("long")).cast("double") / lit(1e7) / count(lit(1))

  /** DuckDB reproduction of [[exactMean]] over column expression `x`. */
  private def exactMeanSql(x: String): String =
    s"CAST(SUM(CAST(round($x * CAST(10000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE) " +
      s"/ CAST(10000000 AS DOUBLE) / COUNT(*)"

  /** Group rows of (groupCols..., pos, x) into (groupCols..., mean-vector). */
  private def meanVectorsBy(px: DataFrame, groupCols: Seq[String], out: String): DataFrame =
    // internal alias `mv`, not `m`: the PQ caller groups by a column
    // named `m` and the names must not collide in the second groupBy
    px.groupBy((groupCols :+ "pos").map(col): _*)
      .agg(exactMean(col("x")).as("mv"))
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
      .select(groupCols.map(col) :+
        transform(col("pm"), p => p.getField("mv")).as(out): _*)

  /** Group rows of (groupCol, pos, x) into (groupCol, mean-vector). */
  private def meanVectors(px: DataFrame, groupCol: String, out: String): DataFrame =
    meanVectorsBy(px, Seq(groupCol), out)

  /** IVF centroids: per-label mean vector (deterministic coarse quantizer
    * standing in for k-means; same shape: nlist cells, assign → probe).
    */
  def centroids(e: DataFrame): DataFrame =
    meanVectors(e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x"))),
      "label", "centroid")

  /** [[centroids]] memoized per (session, corpus): ann_ivf_topk and
    * ann_ivfpq_topk build the identical coarse quantizer — one-row-per-
    * label model state, same train-once contract as pq_scored. */
  private def centroidsOnce(s: SparkSession, d: String, e: DataFrame): DataFrame =
    graft.core.Materialize.once(s, s"ivf_centroids:$d")(centroids(e))

  /** IVF top-k: probe the 3 nearest centroids, brute-force inside cells.
    *
    * The probe set is COLLECTED (nprobe = 3 cell ids — bounded metadata,
    * not data) and applied as a static `isin` filter: with the table laid
    * out partitioned-by-cell, a literal partition-column predicate prunes
    * at PLANNING time (PartitionFilters on the scan), which a runtime
    * semi join only achieves if dynamic partition pruning fires — DPP
    * needs a selective build-side predicate and never triggers for this
    * probe shape. graft.tools.IvfPruneDemo / docs/IVF_PRUNING.md show the
    * pruned scan; IvfPruningSpec asserts it.
    */
  private val ivf: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val cent = centroidsOnce(s, d, e)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    val probes = cent.crossJoin(broadcast(q))
      .withColumn("csim", cosineCol(col("centroid"), col("qv")))
      .orderBy(col("csim").desc, col("label"))
      .limit(3)
      .select(col("label"))
      .collect().map(_.get(0)).toSeq
    e.where(col("vec_id") =!= 0)
      .where(col("label").isin(probes: _*)) // partition pruning at scale
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineCol(col("v"), col("qv")))
      .select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Adaptive-nprobe IVF top-k with a PROVABLY EXACT stop rule — the
    * remedy for the recall gap `ann_recall_eval` measures at fixed
    * nprobe (1-6/10 on the isotropic corpus). Round 1 probes the
    * `initialProbes` nearest cells and collects the k-th shortlist
    * distance d_k (≤ k rows — bounded metadata). Round 2 expands the
    * probe set to every cell whose triangle-inequality minimum possible
    * distance max(0, ‖q−c‖ − r_cell) ≤ d_k (+ε for sqrt's half-ulp,
    * the rangeSearchPruned discipline): any vector that could enter the
    * true top-k sits in such a cell, so the expanded top-k EQUALS brute
    * force — recall 1 by construction, which is why its oracle is plain
    * brute force with no probing to mirror. On clustered corpora the
    * expansion stops at a handful of cells (IvfPruningSpec pins this);
    * on isotropic data it honestly widens toward a full scan — adaptive
    * probing buys exactness, the CORPUS decides the cost. At 100 TB
    * with the table partitioned by cell both rounds are planning-time
    * partition prunes; never more than two scans (shortlist < k rows ⇒
    * d_k = ∞ ⇒ round 2 is the full scan the data demands).
    *
    * Returns (final probe set, lazy top-k) so tests can assert the
    * prune width.
    */
  def ivfAdaptiveTopK(e: DataFrame, q: DataFrame, cent: DataFrame,
      k: Int, initialProbes: Int = 3): (Seq[Any], DataFrame) = {
    def dist0(a: Column, b: Column): Column =
      sqrt(greatest(distSq(a, b), lit(0.0)))
    val radii = e.join(broadcast(cent), Seq("label"))
      .select(col("label"), dist0(col("v"), col("centroid")).as("dc"))
      .groupBy("label").agg(max(col("dc")).as("r"))
    // nlist rows of (cell, centroid distance, radius) — metadata, not data.
    val cells = cent.join(radii, Seq("label")).crossJoin(broadcast(q))
      .select(col("label"), dist0(col("centroid"), col("qv")).as("dq"), col("r"))
      .collect().map(row => (row.get(0), row.getDouble(1), row.getDouble(2)))
      .sortBy { case (l, dq, _) => (dq, String.valueOf(l)) }.toSeq
    def topOver(labels: Seq[Any]): DataFrame =
      e.where(col("label").isin(labels: _*)) // partition pruning at scale
        .crossJoin(broadcast(q))
        .withColumn("dist_sq", distSq(col("v"), col("qv")))
        .orderBy(col("dist_sq").asc, col("vec_id"))
        .limit(k)
        .select(col("vec_id"), col("label"), col("dist_sq"))
    val first = cells.take(math.min(initialProbes, cells.size)).map(_._1)
    val shortlist = topOver(first).collect()
    val dK = if (shortlist.length < k) Double.PositiveInfinity
      else math.sqrt(math.max(shortlist.map(_.getDouble(2)).max, 0.0))
    // Exactness slack must scale with the magnitudes entering the float
    // arithmetic: dq/r/dK each carry O(|x|·dim·ulp) accumulation error, so
    // a fixed 1e-9 could drop a boundary cell on large-magnitude/high-dim
    // corpora. Relative term (sum of the three operands × 1e-12 ≫ double
    // ulp per unit) plus a tiny absolute floor for near-zero distances.
    val finalProbes = (first ++ cells.collect {
      case (l, dq, r) if math.max(0.0, dq - r) <= dK + ((dK + dq + r) * 1e-12 + 1e-9) => l
    }).distinct
    (finalProbes, topOver(finalProbes))
  }

  private val ivfAdaptive: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val cent = centroidsOnce(s, d, e)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    ivfAdaptiveTopK(e.where(col("vec_id") =!= 0), q, cent, 10)._2
  }

  /** Modulus selecting [[ivfAppend]]'s arriving delta (~5% of vectors,
    * the src_upsert_merge regime). */
  val AnnDeltaMod = 20

  /** THE fixed-quantizer assignment, shared by [[ivfAppend]] and
    * [[ivfDelete]] so the two index-maintenance faces can never disagree
    * on a cell: each (vec_id, v) row to its nearest centroid by the
    * deterministic min-struct argmin — distance ties break to the
    * smallest cell label (the assignClusters discipline). Centroids are
    * nlist-row metadata, broadcast. Returns (vec_id, cell, v). */
  def assignToCentroids(delta: DataFrame, cent: DataFrame): DataFrame =
    delta.crossJoin(broadcast(cent.select(col("label").as("clabel"),
        col("centroid"))))
      .groupBy(col("vec_id"))
      .agg(min(struct(distSq(col("v"), col("centroid")).as("ds"),
        col("clabel"), col("v"))).as("b"))
      .select(col("vec_id"), col("b.clabel").as("cell"), col("b.v").as("v"))

  /** Incremental IVF index maintenance — the vector member of the
    * incremental family (d7 exact text, d14 near-dup text, here ANN):
    * a delivery of new vectors merges into the SERVING index without
    * retraining it. The coarse quantizer is trained on the BASE corpus
    * only and memoized (production indexes retrain on a schedule, not
    * per delivery); each arriving vector is ASSIGNED to its nearest
    * fixed centroid by the deterministic min-struct argmin (distance
    * ties → smallest cell — the assignClusters discipline), appended to
    * the index, and serving runs the adaptive EXACT top-k over
    * base ∪ delta against the same fixed centroids. Exactness is the
    * stop rule's, NOT the assignment's: per-cell radii are recomputed
    * over the appended index, so even a badly-assigned delta vector is
    * reachable — the top-k equals brute force over the whole appended
    * corpus by construction, which is what the oracle states. Per
    * delivery the work is O(delta · nlist) assignment (centroids are
    * nlist-row metadata, broadcast) + an O(delta) append; at 100 TB the
    * base index is the partitioned-by-cell layout every other IVF query
    * serves from, and the append is a partition-wise insert — no base
    * re-read, no retrain.
    */
  private val ivfAppend: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val isDelta = col("vec_id") % AnnDeltaMod === 7
    val base = e.where(!isDelta && col("vec_id") =!= 0)
    val cent = graft.core.Materialize.once(
      s, s"ann_append_centroids:$d")(centroids(base))
    val assigned = assignToCentroids(e.where(isDelta), cent)
      .select(col("vec_id"), col("cell"), col("v"), lit(true).as("is_new"))
    val index = base
      .select(col("vec_id"), col("label").as("cell"), col("v"),
        lit(false).as("is_new"))
      .unionByName(assigned)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    val topk = ivfAdaptiveTopK(
      index.select(col("vec_id"), col("cell").as("label"), col("v")),
      q, cent, 10)._2
    topk.join(index.select(col("vec_id"), col("is_new")), Seq("vec_id"))
      .select(col("vec_id"), col("label").as("cell"), col("dist_sq"),
        col("is_new"))
  }

  /** ANN index-quality evaluation — recall@10 of the IVF probe path
    * against exact ground truth, per query of the standard batch: the
    * number every index deployment reports before serving traffic (and
    * re-checks when the corpus drifts). Ground truth is the batch
    * one-scan top-k ([[batchScoredTopK]] — shared body, cannot drift
    * from ann_batch_topk); the IVF side ranks nprobe=3 cells PER QUERY
    * with a rank window (no driver collect — the per-query probe set
    * stays distributed, unlike the single-query ivf's bounded-metadata
    * collect) and scores only probed cells. Overlap counting is exact
    * because both engines produce bit-identical cosines (the order-exact
    * fold discipline), so top-10 membership agrees bit-for-bit. Output:
    * (query_id, hits-of-10) — integers, exact oracle compare.
    */
  /** FILTERED vector search — top-k under a metadata predicate, the
    * production shape every vector store grows into (serve "nearest
    * docs WHERE lang = X / license = Y"). Post-filtering a fixed-nprobe
    * shortlist silently under-fills k when the predicate is selective;
    * pre-filtering + the adaptive exact stop rule keeps the guarantee:
    * [[ivfAdaptiveTopK]] runs over the PREDICATE-FILTERED rows against
    * the SHARED corpus centroids (one index, any filter), its per-cell
    * radii shrink to the filtered subset, and the result EQUALS brute
    * force over the filtered set — so the oracle is plain filtered
    * brute force, no probing to mirror. At scale the probe stays a
    * cell-partition prune and the predicate rides the same scan.
    */
  private val filteredTopK: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val cent = centroidsOnce(s, d, e)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    val filtered = e.where(col("vec_id") =!= 0 && pmod(col("vec_id"), lit(3)) === 1)
    ivfAdaptiveTopK(filtered, q, cent, 10)._2
  }

  private val recallEval: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val qs = e.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = batchScoredTopK(e, qs, col("vec_id") =!= col("query_id"),
      Seq(col("query_id"), col("vec_id")))
    val wp = Window.partitionBy("query_id").orderBy(col("csim").desc, col("label"))
    val probes = centroidsOnce(s, d, e).crossJoin(broadcast(qs))
      .withColumn("csim", cosineCol(col("centroid"), col("qv")))
      .withColumn("prk", row_number().over(wp))
      .where(col("prk") <= 3)
      .select(col("query_id"), col("label"), col("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val ivfTop = e.join(broadcast(probes), Seq("label"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosineCol(col("v"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"))
    qs.select(col("query_id"))
      .join(exact.join(ivfTop, Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("recall_at_10_hits")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("recall_at_10_hits"), lit(0L)).as("recall_at_10_hits"))
  }

  /** Dimensions retained by [[dimTruncationEval]]'s truncated arm: a
    * quarter of the 64-dim embeddings — deep enough truncation that the
    * rankings genuinely reorder (the interesting regime for the eval). */
  val TruncDims = 16

  /** Truncated-dimension retrieval eval (the matryoshka-representation
    * question): if retrieval ran on only the first [[TruncDims]] of the
    * embedding dims — the standard cost lever for a first-stage index,
    * since a prefix slice needs no re-embedding — how much of the exact
    * full-dimension top-10 survives? Per batch query: overlap@10 between
    * the full-cosine top-10 and the prefix-cosine top-10, both exact
    * (same [[batchScoredTopK]] one-scan WindowGroupLimit shape; the
    * truncated arm scores `slice(v, 1, TruncDims)` with the same fold).
    * This is an offline calibration query — you run it on a sample to
    * decide whether the cheap index is safe, then serve with
    * full-dimension re-ranking of the truncated shortlist. Both arms'
    * shuffles are ≤ k·|batch| rows; the corpus is scanned twice (once per
    * arm), each scan map-only.
    */
  private val dimTruncationEval: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
    val qs = e.where(col("vec_id") < BatchQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def arm(score: Column): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      e.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cosine", score)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
    }
    val full = arm(cosineCol(col("v"), col("qv")))
    val trunc = arm(cosineCol(
      slice(col("v"), 1, TruncDims), slice(col("qv"), 1, TruncDims)))
    qs.select(col("query_id"))
      .join(full.join(trunc, Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_overlap")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") / lit(10.0d))
          .as("overlap_frac"))
  }

  /** Exact-ball radius (as squared L2 distance) for [[rangeSearch]] — a
    * literal double, spelled identically in the oracle SQL so both
    * engines compare the same bits at the boundary. */
  val RangeDistSqMax = 1.69

  /** LOSSLESS IVF cell pruning for an exact range search: a cell (label)
    * can contain a point within L2 radius R of the query only if
    * ‖q − centroid‖ ≤ R + r_cell (triangle inequality, with r_cell the
    * cell's exact max member-to-centroid distance) — so dropping every
    * other cell provably loses nothing, and the pruned scan's result
    * EQUALS brute force (the oracle is plain brute force; no pruning to
    * mirror). The epsilon absorbs sqrt's half-ulp so a boundary point can
    * never be pruned by rounding. At 100 TB with the table partitioned by
    * cell this is planning-time partition pruning, same as [[ivf]]'s
    * probe set; on near-isotropic data (this corpus) the bound correctly
    * keeps every cell — range search over unclustered vectors IS a full
    * scan — while clustered corpora prune hard (IvfPruningSpec plants
    * one and pins both the subset and the equality).
    *
    * Returns (kept labels, hit rows) so callers can assert the prune.
    */
  def rangeSearchPruned(e: DataFrame, q: DataFrame, cent: DataFrame,
      distSqMax: Double): (Seq[Any], DataFrame) = {
    // distSq's cancellation form (aa + bb − 2ab) can go EPSILON-NEGATIVE
    // for near-identical vectors; sqrt of that is NaN, and NaN compares
    // GREATER under Spark's nan-safe ordering — an unclamped prune bound
    // would therefore drop precisely the cell whose centroid ≈ the query,
    // the one most likely to hold hits. Clamp at 0 before every sqrt the
    // prune arithmetic touches (the final ball filter stays on raw
    // dist_sq — a tiny negative is simply ≤ the bound there).
    def dist0(a: Column, b: Column): Column =
      sqrt(greatest(distSq(a, b), lit(0.0)))
    val radii = e.join(broadcast(cent), Seq("label"))
      .select(col("label"), dist0(col("v"), col("centroid")).as("dc"))
      .groupBy("label").agg(max(col("dc")).as("r"))
    val keep = {
      // Same relative-slack form as ivfAdaptiveTopK's stop rule: the
      // float error in dc/r/ball scales with their magnitudes, so a
      // fixed 1e-9 could drop a boundary cell on large-magnitude
      // corpora — relative term plus a tiny absolute floor.
      val dc = dist0(col("centroid"), col("qv"))
      val ball = lit(math.sqrt(distSqMax))
      cent.join(radii, Seq("label")).crossJoin(broadcast(q))
        .where(dc <= ball + col("r") +
          ((dc + ball + col("r")) * lit(1e-12) + lit(1e-9)))
        .select(col("label"))
    }
      .collect().map(_.get(0)).toSeq // nlist cell ids — bounded metadata
    val hits = e.where(col("label").isin(keep: _*)) // partition pruning at scale
      .crossJoin(broadcast(q))
      .withColumn("dist_sq", distSq(col("v"), col("qv")))
      .where(col("dist_sq") <= lit(distSqMax))
      .select(col("vec_id"), col("label"), col("dist_sq"))
    (keep, hits)
  }

  /** Range search: every vector (except the query itself) within the
    * exact L2 ball dist_sq ≤ [[RangeDistSqMax]] of vec 0, through the
    * lossless IVF prune. */
  private val rangeSearch: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val cent = centroidsOnce(s, d, e)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    rangeSearchPruned(e.where(col("vec_id") =!= 0), q, cent, RangeDistSqMax)._2
  }

  /** Symmetric int8 quantization of the embedding column — the embedding
    * compression step before ANN index build (4× memory cut). Per vector:
    * scale = 127/max|v|, q_i = floor(v_i·scale + 0.5) — floor(x+0.5)
    * spelled identically in the oracle, so no engine rounding-mode can
    * differ. Output is integer-exact summaries (sum, sum of squares,
    * saturation count) plus the scale quantized to 1e-6 — scalars only,
    * because the driver's compare stringifies columns and array renderings
    * differ between engines. Entirely per-row: zero shuffles.
    */
  private val quantize: Q = (s, d) => {
    val v = vDouble(col("embedding"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / nullif(maxAbs, lit(0.0))
    val q = transform(v, x => floor(x * scale + lit(0.5)).cast("long"))
    // Null vectors are excluded in BOTH engines: on a null array Spark's
    // size() returns -1 (legacy sizeOfNull) where DuckDB's len() is NULL,
    // so letting them through would silently diverge from the oracle.
    Tables.embeddings(s, d).where(col("embedding").isNotNull).select(
      col("vec_id"),
      floor(scale * 1e6 + lit(0.5)).cast("long").as("scale_e6"),
      aggregate(q, lit(0L), (acc, x) => acc + x).as("q_sum"),
      aggregate(q, lit(0L), (acc, x) => acc + x * x).as("q_sq_sum"),
      size(filter(q, x => abs(x) === 127L)).as("n_sat"))
  }

  /** Clusters for [[kmeans]]; seeds are the first K vectors by vec_id. */
  val KmeansK = 8

  /** Lloyd refinement rounds (assignment → integer-exact means). The
    * DuckDB oracle unrolls the same number of rounds from this constant,
    * so the Spark pipeline and the oracle can never drift; override per
    * session with `spark.graft.kmeans.rounds` for experiments (the
    * registered oracle only matches at the default).
    */
  val KmeansRounds = 2

  /** Distributed Lloyd k-means over the embedding column — the semantic
    * clustering step of SemDeDup-style curation (cluster, then
    * dedup/diversity-sample within clusters). [[KmeansRounds]] refinement
    * rounds (seed assignment → integer-exact means, iterated → final
    * assignment), fully deterministic end to end:
    *
    * - Assignment is a broadcast of the k×dim centroid table against one
    *   corpus scan (no shuffle of the vectors); argmin is a
    *   `min(struct(dist, cluster))` map-side-combinable aggregate, ties
    *   to the smallest cluster id.
    * - Distances use the codegen'd ordered dot fold, and the mean update
    *   reuses the centroid cents trick (exact integer sums, fixed
    *   division order) — so the assignment, the means, and therefore the
    *   FINAL clustering reproduce bit-for-bit in the DuckDB oracle.
    * - At 100 TB this is the canonical shape: k·dim doubles broadcast,
    *   one scan per iteration, partial aggregation for the means; rounds
    *   are the only synchronization points.
    */
  /** The refined (cluster, centroid) model table — one Lloyd update of
    * the seed assignment. [[kmeansAssign]] applies it to the corpus;
    * the streaming twin (DocStreaming.assignClusters) applies it to a
    * firehose. */
  def kmeansModel(s: SparkSession, d: String): DataFrame =
    kmeansParts(s, d)._2

  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val (assign, model) = kmeansParts(s, d)
    assign(model.cutLineage)
  }

  private def kmeansParts(s: SparkSession, d: String)
      : (DataFrame => DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), vDouble(col("embedding")).as("v"))
      .cutLineage
    def assign(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(cent))
        .withColumn("dist_sq", distSq(col("v"), col("c")))
        .groupBy("vec_id")
        .agg(min(struct(col("dist_sq"), col("cluster"))).as("best"))
        .select(col("vec_id"), col("best.cluster").as("cluster"),
          col("best.dist_sq").as("dist_sq"))
    def means(assigned: DataFrame): DataFrame =
      meanVectors(assigned.join(e, Seq("vec_id"))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x"))),
        "cluster", "c")
    val seeds = e.where(col("vec_id") < KmeansK)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("c"))
    val rounds = s.conf.getOption("spark.graft.kmeans.rounds")
      .map(_.toInt).getOrElse(KmeansRounds)
    // Each round is one corpus scan (broadcast model, map-side-combined
    // argmin + means); the model is k×dim scalars, so cutting its lineage
    // per round keeps the plan flat without pinning meaningful storage.
    var model = means(assign(seeds))
    var r = 1
    while (r < rounds) {
      model = means(assign(model.cutLineage))
      r += 1
    }
    (assign, model)
  }

  private val kmeans: Q = (s, d) => kmeansAssign(s, d)

  /** Product-quantization geometry: M subspaces, K centroids each, ADC
    * top-k size. K=4 keeps the per-subspace codebook CTEs in the oracle
    * readable; real deployments run K=256 (one byte per subspace) with
    * the identical shapes. */
  val PqM = 4
  val PqK = 4
  val PqTopK = 10

  /** ADC shortlist size before the exact re-rank — the two-stage serve
    * shape: the compressed scan OVERSAMPLES (cheap), the exact pass
    * fixes the ranking (small). */
  val PqShortlist = 50

  /** Product quantization + asymmetric-distance (ADC) search — the
    * memory side of the IVF-PQ standard (Jégou et al. 2011) that
    * [[ivf]]'s partition pruning is the compute side of. Each vector
    * compresses to M codebook codes (here 4×2 bits; 64 doubles → 1 byte
    * class of compression at K=256), and a query scores the WHOLE corpus
    * from an M×K distance table — at 100 TB the codes table is what fits
    * in memory/cache when raw vectors cannot, and the scan is a
    * broadcast-joined integer lookup + fixed-order 4-term add, no
    * per-row vector math at all.
    *
    * Determinism: per-subspace codebooks are the same seed-then-Lloyd
    * integer-exact means as vq_kmeans; assignments tie-break (dist,
    * cluster); the ADC sum folds subspaces in literal order — so the
    * unrolled per-subspace oracle compares codes AND approximate
    * distances exactly.
    */
  private val pq: Q = (s, d) => {
    val (e, q, scored) = pqScored(s, d)
    pqServe(scored.where(col("vec_id") =!= 0), e, q)
  }

  /** (corpus, query-row, ADC-scored corpus): the PQ machinery shared by
    * the whole-corpus form ([[pq]]) and the IVF-composed form
    * ([[ivfpq]]). `scored` carries (vec_id, label, approx_dist). */
  private def pqScored(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.core.Lineage.LineageOps
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
      .cutLineage
    val q = e.where(col("vec_id") === 0)
    // The codebook training + encode is shared model state: vq_pq_topk
    // and ann_ivfpq_topk run it identically, so it materializes once per
    // (session, corpus) like the d2/d5 pair graphs. The scored frame is
    // (vec_id, label, approx_dist) — rows ≤ corpus, columns tiny.
    val scored = graft.core.Materialize.once(s, s"pq_scored:$d") {
      pqScore(e, q)
    }
    (e, q, scored)
  }

  private def pqScore(e: DataFrame, q: DataFrame): DataFrame = {
    import graft.core.Lineage.LineageOps
    val dim = e.select(size(col("v"))).head.getInt(0)
    val sd = dim / PqM
    def subCol(m: Int) = slice(col("v"), m * sd + 1, sd)
    // ALL M subspaces train in ONE plan: rows (m, vec_id, sv), one
    // broadcast-joined argmin and one grouped-means pass covering every
    // subquantizer. The per-subspace loop this replaces compiled and ran
    // 4 separate Lloyd plans (~58 single-task AQE jobs for the twins —
    // pure scheduler wall, guide §2.4/§1.2); the fused form computes the
    // IDENTICAL model: same integer-exact means (grouped by (m, cluster,
    // pos)), same (dist, cluster) tie-break per (m, vec_id), same ADC
    // table values — the unrolled per-subspace oracle is unchanged.
    val subExpr = array((0 until PqM).map(m =>
      struct(lit(m).as("m"), subCol(m).as("sv"))): _*)
    val sub = e.select(col("vec_id"), explode(subExpr).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    def assign(cent: DataFrame): DataFrame =
      sub.join(broadcast(cent), Seq("m"))
        .withColumn("dist_sq", distSq(col("sv"), col("c")))
        .groupBy("m", "vec_id")
        .agg(min(struct(col("dist_sq"), col("cluster"))).as("best"))
        .select(col("m"), col("vec_id"), col("best.cluster").as("cluster"))
    val seeds = sub.where(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("cluster"), col("sv").as("c"))
    // Rename the assignment's group keys before re-joining `sub` (a true
    // self-join: both sides descend from `sub`, so the raw using-join
    // keys carry identical attribute ids).
    val seedAssign = assign(seeds)
      .select(col("m").as("am"), col("vec_id").as("avid"), col("cluster"))
    val model = meanVectorsBy(
      seedAssign.join(sub,
          col("am") === col("m") && col("avid") === col("vec_id"))
        .select(col("am").as("m"), col("cluster"),
          posexplode(col("sv")).as(Seq("pos", "x"))),
      Seq("m", "cluster"), "c").cutLineage
    // Wide code row per vector: each (vec_id, m) has exactly one cluster,
    // so the conditional min IS that value (deterministic pivot).
    val withCodes = assign(model).groupBy("vec_id")
      .agg(min(when(col("m") === 0, col("cluster"))).as("code0"),
        (1 until PqM).map(m =>
          min(when(col("m") === m, col("cluster"))).as(s"code$m")): _*)
    val qsub = q.select(explode(subExpr).as("s"))
      .select(col("s.m").as("m"), col("s.sv").as("qs"))
    val dtab = model.join(broadcast(qsub), Seq("m"))
      .select(col("m"), col("cluster"), distSq(col("c"), col("qs")).as("dd"))
      .cutLineage // M×K rows of model state: the 4 joins below each read it
    val scored = (0 until PqM).foldLeft(withCodes) { (acc, m) =>
      acc.join(broadcast(dtab.where(col("m") === m)
        .select(col("cluster").as(s"code$m"), col("dd").as(s"d$m"))), Seq(s"code$m"))
    }
    val score = (0 until PqM).map(m => col(s"d$m")).reduceLeft(_ + _)
    val withLabel = scored.join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    withLabel.select(col("vec_id"), col("label"), score.as("approx_dist"))
  }

  /** Stage 1: ADC shortlist — scores `candidates` from the M×K table
    * (integer-lookup + fixed-order add per row), oversampled because
    * K=4-per-subspace quantization is deliberately coarse. Stage 2:
    * exact re-rank touches raw vectors only for the shortlist — the
    * two-stage shape every PQ deployment serves with. */
  private def pqServe(candidates: DataFrame, e: DataFrame, q: DataFrame): DataFrame = {
    val shortlist = candidates
      .select(col("vec_id"), col("approx_dist"))
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(PqShortlist)
    shortlist.join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .crossJoin(broadcast(q.select(col("v").as("qv"))))
      .withColumn("dist_sq", distSq(col("v"), col("qv")))
      .select(col("vec_id"), col("approx_dist"), col("dist_sq"))
      .orderBy(col("dist_sq"), col("vec_id"))
      .limit(PqTopK)
  }

  /** The full IVF-PQ serve pipeline — [[ivf]]'s coarse partition pruning
    * composed with [[pq]]'s compressed scoring: probe the nprobe nearest
    * label cells (at scale: partition pruning — only probed cells'
    * files are read), ADC-score ONLY those cells' codes, exact-re-rank
    * only the shortlist. Each stage touches an order of magnitude less
    * data than the one before; this is the query path of every
    * production vector index. Codebooks are corpus-global over raw
    * vectors (the simple PQ variant; residual-PQ refines the same
    * shapes). */
  private val ivfpq: Q = (s, d) => {
    val (e, q, scored) = pqScored(s, d)
    val cent = centroidsOnce(s, d, e)
    val probes = cent.crossJoin(broadcast(q.select(col("v").as("qv"))))
      .withColumn("csim", cosineCol(col("centroid"), col("qv")))
      .orderBy(col("csim").desc, col("label"))
      .limit(3)
      .select(col("label"))
      .collect().map(_.get(0)).toSeq
    pqServe(
      scored.where(col("vec_id") =!= 0).where(col("label").isin(probes: _*)),
      e, q)
  }

  /** Modulus partitioning [[ivfDelete]]'s CDC delta: residue 3 vectors
    * are tombstoned, residue 5 vectors are upserted (their embedding
    * replaced) — ~10% each, the src_merge_cdc regime. */
  val AnnDeleteMod = 10

  /** IVF index DELETES/UPSERTS — the other half of index maintenance
    * ([[ivfAppend]] covers inserts): a CDC delta of tombstones and
    * upserts merges into the SERVING index without re-clustering.
    * Tombstone ids and upserted ids leave their base cells through ONE
    * broadcast anti join against the (lineage-cut, id-only) changed-id
    * table — the base layout is otherwise untouched: no rewrite, no
    * re-read beyond the serve itself, and NO quantizer retrain (the
    * session-memoized corpus centroids are reused as-is — one index,
    * any CDC, the filtered-search discipline). Upserted vectors are
    * re-assigned to their nearest FIXED centroid by the deterministic
    * min-struct argmin (ivfAppend's rule), then serving runs the
    * adaptive EXACT top-k over kept ∪ upserts with per-cell radii
    * recomputed over the post-CDC membership — so the result EQUALS
    * brute force over the post-delete corpus by construction, which is
    * exactly what the oracle states (plus the recomputed upsert cell
    * assignments, so a drifted quantizer fails the compare). At 100 TB:
    * the tombstone side is a broadcast-size id list, the anti join
    * rides the partitioned-by-cell base scan without an extra exchange
    * (SimilaritySpec pins the plan), and compaction folds tombstones
    * into the layout on the append schedule.
    *
    * Upsert payload: the vector REVERSED — deterministic, expressible
    * on both engines, and it moves the vector between cells often
    * enough to exercise re-assignment.
    */
  /** The post-CDC logical index (vec_id, label, v, is_upsert) — THE
    * shared definition behind [[ivfDelete]] (serves over it) and
    * [[ivfCompact]] (materializes it), so the two faces cannot disagree
    * on membership or assignment. */
  private def postCdcIndex(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val live = e.where(col("vec_id") =!= 0)
    // The arriving CDC delta, as OPAQUE tables (production tombstones
    // are id lists, not predicates — the cut stops the planner from
    // fusing the residue test into the base scan, which would fake the
    // production shape).
    val tomb = live.where(col("vec_id") % AnnDeleteMod === 3)
      .select(col("vec_id")).cutLineage
    val ups = live.where(col("vec_id") % AnnDeleteMod === 5)
      .select(col("vec_id"), reverse(col("v")).as("v")).cutLineage
    val cent = centroidsOnce(s, d, e) // frozen quantizer: NO retrain
    val assigned = assignToCentroids(ups, cent)
      .select(col("vec_id"), col("cell").as("label"), col("v"),
        lit(true).as("is_upsert"))
    val changed = tomb.unionByName(ups.select(col("vec_id")))
    val kept = live.join(broadcast(changed), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"), col("v"), lit(false).as("is_upsert"))
    kept.unionByName(assigned)
  }

  private val ivfDelete: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val index = postCdcIndex(s, d)
    val cent = centroidsOnce(s, d, e)
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv")).cutLineage
    val topk = ivfAdaptiveTopK(
      index.select(col("vec_id"), col("label"), col("v")), q, cent, 10)._2
    topk.join(index.select(col("vec_id"), col("is_upsert")), Seq("vec_id"))
      .select(col("vec_id"), col("label").as("cell"), col("dist_sq"),
        col("is_upsert"))
  }

  /** IVF COMPACTION — the third face of index maintenance (append adds,
    * delete tombstones, compact FOLDS): the post-CDC logical index is
    * materialized once per session into a fresh bucketed-by-cell layout
    * (Materialize.onceBucketed — the d14 persistence shape every other
    * maintained index here uses), after which serving reads carry no
    * anti joins and no tombstone state at all; the emitted card is the
    * compacted layout's per-cell inventory (population, upsert count,
    * id range — the numbers a compaction job logs). At 100 TB the
    * rewrite is the scheduled background job that amortizes the delete
    * path's per-query anti join to zero; per-cell file rewrites touch
    * only cells with membership changes. Spec asserts serve-over-
    * compacted equals ann_ivf_delete bit-for-bit and that the compacted
    * reads are exchange-free.
    */
  /** Population-drift flag threshold for [[indexDrift]]: a cell whose
    * post-CDC population moved by ≥ 1/DriftFlagDenom of its base
    * population (integer cross-multiplication) is flagged for the
    * retrain schedule. Shared with the oracle. */
  val DriftFlagDenom = 8

  /** INDEX DRIFT MONITOR — the observability pass that SCHEDULES the
    * quantizer retrain the maintenance faces deliberately avoid
    * (ivfAppend/ivfDelete/ivfCompact all serve against the FROZEN
    * centroids; production retrains when the monitor says the geometry
    * moved): per cell, base population vs post-CDC population and the
    * post-CDC mean squared distance to the frozen centroid — the
    * assignment-quality number that grows as upserts drift away from
    * the centroids they're forced into. Float discipline: each row's
    * distSq micro-rounds to an integer immediately (the drift-psi /
    * classifier order-free-sum rule), so per-cell sums are exact and
    * the published mean is one shared double division; the drift flag
    * is an exact integer cross-multiplication (|Δn|·8 ≥ n_base). One
    * broadcast of the nlist-row centroid table + two map-side-combinable
    * aggregates — the monitor costs a scan, nothing shuffles but
    * (cell, count, sum) partials. Output is |cells| rows.
    */
  private val indexDrift: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), vDouble(col("embedding")).as("v"))
    val live = e.where(col("vec_id") =!= 0)
    val cent = centroidsOnce(s, d, e) // the frozen quantizer under test
    val baseCounts = live.groupBy(col("label").as("cell"))
      .agg(count(lit(1)).as("n_base"))
    val scored = postCdcIndex(s, d)
      .join(broadcast(cent.select(col("label"), col("centroid"))), Seq("label"))
      .select(col("label").as("cell"),
        round(distSq(col("v"), col("centroid")) * 1e6).cast("long").as("dq"))
    val now = scored.groupBy("cell")
      .agg(count(lit(1)).as("n_now"),
        floor(sum(col("dq")).cast("double") / count(lit(1)))
          .cast("long").as("mean_dq_micro"))
    baseCounts.join(now, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_now"), lit(0L)).as("n_now"),
        coalesce(col("mean_dq_micro"), lit(0L)).as("mean_dq_micro"))
      .withColumn("pop_drift",
        abs(col("n_now") - col("n_base")) * lit(DriftFlagDenom.toLong) >=
          col("n_base"))
  }

  /** The compacted post-CDC layout (session-materialized, bucketed by
    * cell) — public so the spec can serve over it directly. */
  def compactedIndex(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.onceBucketed(
      s, s"ann_compact:$d", 32, "label")(postCdcIndex(s, d))

  private val ivfCompact: Q = (s, d) => {
    val compacted = compactedIndex(s, d)
    compacted.groupBy(col("label").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("is_upsert"), 1L).otherwise(0L)).as("n_upserts"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"))
  }

  val queries: Map[String, Q] = Map(
    "ann_ivf_delete" -> ivfDelete,
    "ann_ivf_compact" -> ivfCompact,
    "ann_index_drift" -> indexDrift,
    "ann_brute_topk" -> bruteForce,
    "ann_batch_topk" -> batchTopK,
    "ann_ivf_topk" -> ivf,
    "ann_ivf_adaptive" -> ivfAdaptive,
    "ann_ivf_append" -> ivfAppend,
    "vq_kmeans" -> kmeans,
    "vq_quantize" -> quantize,
    "vq_pq_topk" -> pq,
    "ann_ivfpq_topk" -> ivfpq,
    "ann_range_search" -> rangeSearch,
    "ann_hard_negatives" -> hardNegatives,
    "ann_recall_eval" -> recallEval,
    "ann_filtered_topk" -> filteredTopK,
    "ann_dim_truncation_eval" -> dimTruncationEval,
    "ann_margin_mining" -> marginMining,
    "ann_mmr_rerank" -> mmrRerank,
  )

  /** Mirrors [[graft.functions.GraftFunctions.cosine]] including the
    * zero-norm guard: NULLIF keeps a zero denominator NULL (= Spark's
    * `when(den === 0, null)`) instead of dividing by zero — without it a
    * planted all-zero vector would make the oracle diverge. */
  val cosineSql = (a: String, b: String) =>
    s"""list_reduce(list_transform(generate_series(1, len($a)),
       |      i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)
       |  / NULLIF(sqrt(list_reduce(list_transform(generate_series(1, len($a)),
       |        i -> $a[CAST(i AS INT)] * $a[CAST(i AS INT)]), (x, y) -> x + y))
       |     * sqrt(list_reduce(list_transform(generate_series(1, len($b)),
       |        i -> $b[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)), 0.0)""".stripMargin

  /** Squared L2 distance with the same FP composition as the Spark side:
    * fold(a·a) + fold(b·b) − 2·fold(a·b), left-assoc. */
  private val distSql = (a: String, b: String) =>
    s"""(list_reduce(list_transform(generate_series(1, len($a)),
       |      i -> $a[CAST(i AS INT)] * $a[CAST(i AS INT)]), (x, y) -> x + y)
       |  + list_reduce(list_transform(generate_series(1, len($b)),
       |      i -> $b[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)
       |  - 2 * list_reduce(list_transform(generate_series(1, len($a)),
       |      i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y))""".stripMargin

  /** The post-CDC index as ONE CTE chain ending in idx(vec_id, cell, v,
    * is_upsert) (+ the q query-vector CTE) — the oracle twin of
    * [[postCdcIndex]], shared verbatim by the ann_ivf_delete and
    * ann_ivf_compact entries so the membership/assignment definition
    * exists exactly once on each side. */
  private lazy val postCdcIdxSql: String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |live AS (SELECT * FROM e WHERE vec_id <> 0),
       |ups AS (SELECT vec_id, list_reverse(v) AS v FROM live
       |        WHERE vec_id % $AnnDeleteMod = 5),
       |kept AS (SELECT vec_id, label AS cell, v, FALSE AS is_upsert FROM live
       |         WHERE vec_id % $AnnDeleteMod NOT IN (3, 5)),
       |cpx AS (SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM e),
       |ccm AS (SELECT label, pos, ${exactMeanSql("x")} AS m FROM cpx GROUP BY label, pos),
       |cc AS (SELECT label, list(m ORDER BY pos) AS centroid FROM ccm GROUP BY label),
       |asg AS (SELECT vec_id, label AS cell FROM (
       |    SELECT u.vec_id, c.label,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${distSql("u.v", "c.centroid")}, c.label) AS rk
       |    FROM ups u, cc c) WHERE rk = 1),
       |idx AS (SELECT * FROM kept
       |        UNION ALL
       |        SELECT u.vec_id, a.cell, u.v, TRUE AS is_upsert
       |        FROM ups u JOIN asg a USING (vec_id))""".stripMargin

  /** Shared CTE chain ending in `af` = the final k-means assignment
    * (vec_id, cluster, dist_sq) — used by vq_kmeans and pipe_semdedup.
    * Unrolls [[KmeansRounds]] Lloyd rounds (c0 = seeds; round i: a_i =
    * assignment against c_i, c_{i+1} = integer-exact means of a_i), so the
    * oracle follows the Spark pipeline's round count by construction.
    */
  val kmeansCtesSql: String = {
    val assignCte = (name: String, cent: String) =>
      s"""$name AS (SELECT e.vec_id, $cent.cluster, ${distSql("e.v", s"$cent.c")} AS dist_sq
         |       FROM e, $cent
         |       QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist_sq, cluster) = 1)""".stripMargin
    val roundCtes = (0 until KmeansRounds).map { i =>
      s"""${assignCte(s"a$i", s"c$i")},
         |px$i AS (SELECT a$i.cluster, unnest(generate_series(1, len(e.v))) AS pos, unnest(e.v) AS x
         |       FROM a$i JOIN e USING (vec_id)),
         |cm$i AS (SELECT cluster, pos, ${exactMeanSql("x")} AS m
         |       FROM px$i GROUP BY cluster, pos),
         |c${i + 1} AS (SELECT cluster, list(m ORDER BY pos) AS c FROM cm$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS c FROM e WHERE vec_id < $KmeansK),
       |$roundCtes,
       |${assignCte("af", s"c$KmeansRounds")}""".stripMargin
  }

  /** Per-subspace PQ CTEs: slice → seeds → one Lloyd update with
    * integer-exact means → codes + the query's distance table. Arg order
    * of every distance mirrors the Spark side exactly (fold(a·a) first),
    * because a+b and b+a differ in the last ulp for doubles. */
  private def pqCtesSql(m: Int): String = {
    val lo = s"$m * (len(v) // $PqM) + 1"
    val hi = s"(${m + 1}) * (len(v) // $PqM)"
    s"""sub$m AS MATERIALIZED (SELECT vec_id, list_slice(v, $lo, $hi) AS sv FROM e),
       |qs$m AS (SELECT list_slice(qv, ${m} * (len(qv) // $PqM) + 1, (${m + 1}) * (len(qv) // $PqM)) AS qs FROM q),
       |c0_$m AS (SELECT CAST(vec_id AS INT) AS cluster, sv AS c FROM sub$m WHERE vec_id < $PqK),
       |a0_$m AS MATERIALIZED (
       |  SELECT sub$m.vec_id, c0_$m.cluster, ${distSql(s"sub$m.sv", s"c0_$m.c")} AS dist_sq
       |  FROM sub$m, c0_$m
       |  QUALIFY row_number() OVER (PARTITION BY sub$m.vec_id ORDER BY dist_sq, cluster) = 1),
       |px$m AS (SELECT a0_$m.cluster, unnest(generate_series(1, len(sv))) AS pos, unnest(sv) AS x
       |  FROM a0_$m JOIN sub$m USING (vec_id)),
       |cm$m AS (SELECT cluster, pos, ${exactMeanSql("x")} AS mv FROM px$m GROUP BY cluster, pos),
       |c1_$m AS MATERIALIZED (SELECT cluster, list(mv ORDER BY pos) AS c FROM cm$m GROUP BY cluster),
       |code$m AS MATERIALIZED (
       |  SELECT sub$m.vec_id, c1_$m.cluster AS code, ${distSql(s"sub$m.sv", s"c1_$m.c")} AS dist_sq
       |  FROM sub$m, c1_$m
       |  QUALIFY row_number() OVER (PARTITION BY sub$m.vec_id ORDER BY dist_sq, cluster) = 1),
       |dt$m AS (SELECT c1_$m.cluster AS code, ${distSql(s"c1_$m.c", "qs.qs")} AS d
       |  FROM c1_$m, qs$m qs)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Brute force IS the spec: the engine's IVF prune is lossless by the
    // triangle inequality, so the oracle needs no pruning mirror — only
    // the same distance composition and the same literal bound.
    "ann_range_search" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, e.label, ${distSql("e.v", "q.qv")} AS dist_sq
         |      FROM e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, label, dist_sq FROM d WHERE dist_sq <= $RangeDistSqMax""".stripMargin,
    "ann_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < $BatchQueries),
         |c AS (SELECT q.query_id, e.vec_id, e.label, ${cosineSql("e.v", "q.qv")} AS cosine
         |      FROM e, q WHERE e.label <> q.qlabel)
         |SELECT query_id, vec_id, label, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |FROM c QUALIFY rank <= 10""".stripMargin,
    "ann_ivfpq_topk" -> {
      val joins = (0 until PqM).map(m =>
        s"JOIN code$m ON code$m.vec_id = e.vec_id JOIN dt$m ON dt$m.code = code$m.code")
        .mkString("\n")
      val scoreSum = (0 until PqM).map(m => s"dt$m.d").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |${(0 until PqM).map(pqCtesSql).mkString(",\n")},
         |lpx AS (SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM e),
         |lcm AS (SELECT label, pos, ${exactMeanSql("x")} AS m FROM lpx GROUP BY label, pos),
         |lc AS (SELECT label, list(m ORDER BY pos) AS centroid FROM lcm GROUP BY label),
         |probes AS (SELECT lc.label FROM lc, q
         |           ORDER BY ${cosineSql("lc.centroid", "q.qv")} DESC, lc.label LIMIT 3),
         |shortlist AS MATERIALIZED (
         |  SELECT e.vec_id, ($scoreSum) AS approx_dist
         |  FROM e
         |  $joins
         |  WHERE e.vec_id <> 0 AND e.label IN (SELECT label FROM probes)
         |  ORDER BY approx_dist, e.vec_id LIMIT $PqShortlist)
         |SELECT s.vec_id, s.approx_dist, ${distSql("e.v", "q.qv")} AS dist_sq
         |FROM shortlist s JOIN e ON e.vec_id = s.vec_id, q
         |ORDER BY dist_sq, s.vec_id LIMIT $PqTopK""".stripMargin
    },
    "vq_pq_topk" -> {
      val joins = (0 until PqM).map(m =>
        s"JOIN code$m ON code$m.vec_id = e.vec_id JOIN dt$m ON dt$m.code = code$m.code")
        .mkString("\n")
      val scoreSum = (0 until PqM).map(m => s"dt$m.d").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |${(0 until PqM).map(pqCtesSql).mkString(",\n")},
         |shortlist AS MATERIALIZED (
         |  SELECT e.vec_id, ($scoreSum) AS approx_dist
         |  FROM e
         |  $joins
         |  WHERE e.vec_id <> 0
         |  ORDER BY approx_dist, e.vec_id LIMIT $PqShortlist)
         |SELECT s.vec_id, s.approx_dist, ${distSql("e.v", "q.qv")} AS dist_sq
         |FROM shortlist s JOIN e ON e.vec_id = s.vec_id, q
         |ORDER BY dist_sq, s.vec_id LIMIT $PqTopK""".stripMargin
    },
    "vq_kmeans" ->
      s"""WITH $kmeansCtesSql
         |SELECT vec_id, cluster, dist_sq FROM af""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |px AS (SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM e),
         |cm AS (SELECT label, pos, ${exactMeanSql("x")} AS m
         |       FROM px GROUP BY label, pos),
         |c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cm GROUP BY label),
         |probes AS (SELECT c.label FROM c, q
         |           ORDER BY ${cosineSql("c.centroid", "q.qv")} DESC, c.label LIMIT 3)
         |SELECT e.vec_id, e.label, ${cosineSql("e.v", "q.qv")} AS cosine
         |FROM e, q
         |WHERE e.vec_id <> 0 AND e.label IN (SELECT label FROM probes)
         |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    // The adaptive probe's stop rule is provably exact, so its oracle is
    // PLAIN BRUTE FORCE — there is deliberately no probing to mirror:
    // the engine must reach the same rows no matter how the expansion
    // went. Same dist_sq composition as ann_range_search.
    "ann_ivf_adaptive" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, e.label, ${distSql("e.v", "q.qv")} AS dist_sq
         |      FROM e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, label, dist_sq FROM d
         |ORDER BY dist_sq, vec_id LIMIT 10""".stripMargin,
    // The appended-index top-k is exact by the adaptive stop rule, so the
    // value truth is brute force over base ∪ delta; the oracle ALSO
    // recomputes the delta cell assignments (argmin against the base-only
    // exact-mean centroids, distance-then-label tie order — the engine's
    // min-struct) so a drifted quantizer or assignment would fail the
    // compare even when the distances alone still match.
    "ann_ivf_append" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |base AS (SELECT * FROM e WHERE vec_id % $AnnDeltaMod <> 7 AND vec_id <> 0),
         |delta AS (SELECT * FROM e WHERE vec_id % $AnnDeltaMod = 7),
         |bpx AS (SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM base),
         |bcm AS (SELECT label, pos, ${exactMeanSql("x")} AS m FROM bpx GROUP BY label, pos),
         |bc AS (SELECT label, list(m ORDER BY pos) AS centroid FROM bcm GROUP BY label),
         |asg AS (SELECT vec_id, label AS cell FROM (
         |    SELECT d.vec_id, c.label,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY ${distSql("d.v", "c.centroid")}, c.label) AS rk
         |    FROM delta d, bc c) WHERE rk = 1),
         |idx AS (SELECT vec_id, label AS cell, v, FALSE AS is_new FROM base
         |        UNION ALL
         |        SELECT d.vec_id, a.cell, d.v, TRUE AS is_new
         |        FROM delta d JOIN asg a USING (vec_id))
         |SELECT idx.vec_id, idx.cell, ${distSql("idx.v", "q.qv")} AS dist_sq, idx.is_new
         |FROM idx, q ORDER BY dist_sq, idx.vec_id LIMIT 10""".stripMargin,
    // Post-CDC brute force IS the truth (the adaptive stop rule is exact
    // over kept ∪ upserts); the oracle ALSO recomputes the upsert cell
    // assignments against the FULL-corpus exact-mean centroids (the
    // frozen ivf_centroids quantizer — trained before the delta, never
    // retrained), so a re-clustered or re-assigned index would fail the
    // compare even when the distances alone still match. The CTE chain
    // is postCdcIdxSql, shared verbatim with ann_ivf_compact.
    "ann_ivf_delete" ->
      s"""$postCdcIdxSql
         |SELECT idx.vec_id, idx.cell, ${distSql("idx.v", "q.qv")} AS dist_sq, idx.is_upsert
         |FROM idx, q ORDER BY dist_sq, idx.vec_id LIMIT 10""".stripMargin,
    // The drift monitor over the SAME post-CDC chain: cc (the frozen
    // exact-mean centroids) and idx come from postCdcIdxSql verbatim;
    // per-row micro-round then integer sum, one shared double division
    // for the mean, integer cross-multiplication for the flag.
    "ann_index_drift" ->
      s"""$postCdcIdxSql,
         |bc AS (SELECT label AS cell, CAST(count(*) AS BIGINT) AS n_base
         |       FROM live GROUP BY 1),
         |sc AS (SELECT idx.cell,
         |         CAST(round(${distSql("idx.v", "c.centroid")} * 1000000) AS BIGINT) AS dq
         |       FROM idx JOIN cc c ON idx.cell = c.label),
         |nw AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_now,
         |         CAST(floor(CAST(sum(dq) AS DOUBLE) / count(*)) AS BIGINT) AS mean_dq_micro
         |       FROM sc GROUP BY 1)
         |SELECT cell, coalesce(n_base, 0) AS n_base, coalesce(n_now, 0) AS n_now,
         |  coalesce(mean_dq_micro, 0) AS mean_dq_micro,
         |  (abs(coalesce(n_now, 0) - coalesce(n_base, 0)) * $DriftFlagDenom
         |     >= coalesce(n_base, 0)) AS pop_drift
         |FROM bc FULL JOIN nw USING (cell)""".stripMargin,
    // Per-cell inventory of the SAME post-CDC index chain (shared
    // verbatim with the delete oracle) — the compaction card.
    "ann_ivf_compact" ->
      s"""$postCdcIdxSql
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(count(CASE WHEN is_upsert THEN 1 END) AS BIGINT) AS n_upserts,
         |  CAST(min(vec_id) AS BIGINT) AS min_vec_id,
         |  CAST(max(vec_id) AS BIGINT) AS max_vec_id
         |FROM idx GROUP BY cell""".stripMargin,
    // Filtered brute force IS the truth: the engine's adaptive probe is
    // exact over the filtered subset by construction.
    "ann_filtered_topk" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, e.label, ${distSql("e.v", "q.qv")} AS dist_sq
         |      FROM e, q WHERE e.vec_id <> 0 AND e.vec_id % 3 = 1)
         |SELECT vec_id, label, dist_sq FROM d
         |ORDER BY dist_sq, vec_id LIMIT 10""".stripMargin,
    // Ground truth = the ann_batch_topk CTE; IVF side ranks nprobe=3
    // cells per query with the same (csim DESC, label) order as the
    // engine's rank window; hit counting is exact integer.
    "ann_recall_eval" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $BatchQueries),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY ${cosineSql("e.v", "q.qv")} DESC, e.vec_id) AS INT) AS rank
         |  FROM e, q WHERE e.vec_id <> q.query_id) t WHERE rank <= 10),
         |px AS (SELECT label, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM e),
         |cm AS (SELECT label, pos, ${exactMeanSql("x")} AS m
         |       FROM px GROUP BY label, pos),
         |c AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cm GROUP BY label),
         |pr AS (SELECT query_id, label, qv FROM (
         |  SELECT q.query_id, c.label, q.qv,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosineSql("c.centroid", "q.qv")} DESC, c.label) AS prk
         |  FROM c, q) t WHERE prk <= 3),
         |iv AS (SELECT query_id, vec_id FROM (
         |  SELECT pr.query_id, e.vec_id,
         |    row_number() OVER (PARTITION BY pr.query_id
         |      ORDER BY ${cosineSql("e.v", "pr.qv")} DESC, e.vec_id) AS rank
         |  FROM e JOIN pr ON e.label = pr.label
         |  WHERE e.vec_id <> pr.query_id) t WHERE rank <= 10),
         |o AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n
         |      FROM ex JOIN iv USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(o.n, 0) AS recall_at_10_hits
         |FROM q LEFT JOIN o USING (query_id)""".stripMargin,
    // Both arms mirrored exactly: the truncated arm scores the same
    // ordered fold over list_slice(·, 1, TruncDims) — the prefix slice is
    // the same elements in the same order as the engine's slice().
    "ann_dim_truncation_eval" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $BatchQueries),
         |p AS (SELECT q.query_id, e.vec_id, e.v, q.qv,
         |    list_slice(e.v, 1, $TruncDims) AS tv,
         |    list_slice(q.qv, 1, $TruncDims) AS tqv
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |fl AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${cosineSql("v", "qv")} DESC, vec_id) AS rank
         |  FROM p) t WHERE rank <= 10),
         |tr AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${cosineSql("tv", "tqv")} DESC, vec_id) AS rank
         |  FROM p) t WHERE rank <= 10),
         |o AS (SELECT fl.query_id, CAST(count(*) AS BIGINT) AS n
         |      FROM fl JOIN tr USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(o.n, 0) AS DOUBLE) / 10.0 AS overlap_frac
         |FROM q LEFT JOIN o USING (query_id)""".stripMargin,
    "ann_brute_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  list_reduce(list_transform(generate_series(1, len(e.v)),
        |      i -> e.v[CAST(i AS INT)] * q.qv[CAST(i AS INT)]), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.v)),
        |        i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)]), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(q.qv)),
        |        i -> q.qv[CAST(i AS INT)] * q.qv[CAST(i AS INT)]), (x, y) -> x + y))) AS cosine
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "ann_batch_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $BatchQueries),
         |c AS (SELECT q.query_id, e.vec_id,
         |  list_reduce(list_transform(generate_series(1, len(e.v)),
         |      i -> e.v[CAST(i AS INT)] * q.qv[CAST(i AS INT)]), (x, y) -> x + y)
         |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.v)),
         |        i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)]), (x, y) -> x + y))
         |     * sqrt(list_reduce(list_transform(generate_series(1, len(q.qv)),
         |        i -> q.qv[CAST(i AS INT)] * q.qv[CAST(i AS INT)]), (x, y) -> x + y))) AS cosine
         |FROM e, q WHERE e.vec_id <> q.query_id)
         |SELECT query_id, vec_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |FROM c QUALIFY rank <= 10""".stripMargin,
    "vq_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT vec_id, v,
        |    127.0 / NULLIF(list_max(list_transform(v, x -> abs(x))), 0.0) AS sc
        |  FROM e),
        |q AS (SELECT vec_id, sc,
        |    list_transform(v, x -> CAST(floor(x * sc + 0.5) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  CAST(floor(sc * 1e6 + 0.5) AS BIGINT) AS scale_e6,
        |  CAST(list_reduce(list_prepend(0::BIGINT, qv), (a, x) -> a + x) AS BIGINT) AS q_sum,
        |  CAST(list_reduce(list_prepend(0::BIGINT, list_transform(qv, x -> x * x)), (a, x) -> a + x) AS BIGINT) AS q_sq_sum,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat
        |FROM q""".stripMargin,
    // Mirrors marginMining's tie-break fine print: penx selects
    // (cosine DESC, vec_id ASC), peny selects (cosine DESC, qid DESC) —
    // the largest k under ascending (cosine, qid) — and BOTH penalty
    // means fold in ascending (cosine, id) order. list_reduce seeds with
    // the first element where Spark's aggregate seeds 0.0; 0.0 + c == c
    // exactly, so the folds agree bit-for-bit.
    "ann_margin_mining" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $BatchQueries),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= $BatchQueries),
         |p AS (SELECT c.vec_id, q.query_id, ${cosineSql("c.v", "q.qv")} AS cosine
         |  FROM c CROSS JOIN q),
         |kx AS (SELECT query_id, cosine, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS r FROM p),
         |penx AS (SELECT query_id,
         |    list_reduce(list(cosine ORDER BY cosine, vec_id),
         |      (a, b) -> a + b) / $MarginK.0 AS penx
         |  FROM kx WHERE r <= $MarginK GROUP BY query_id),
         |ky AS (SELECT vec_id, cosine, query_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, query_id DESC) AS r FROM p),
         |peny AS (SELECT vec_id,
         |    list_reduce(list(cosine ORDER BY cosine, query_id),
         |      (a, b) -> a + b) / $MarginK.0 AS peny
         |  FROM ky WHERE r <= $MarginK GROUP BY vec_id),
         |m AS (SELECT p.query_id, p.vec_id,
         |    CAST(round(p.cosine * 1e6) AS BIGINT) AS cos_micro,
         |    CAST(round(p.cosine / ((penx.penx + peny.peny) * 0.5) * 1e6)
         |      AS BIGINT) AS margin_micro
         |  FROM p JOIN penx USING (query_id) JOIN peny USING (vec_id))
         |SELECT query_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY margin_micro DESC, vec_id) AS INT) AS rank,
         |  cos_micro, margin_micro,
         |  (margin_micro >= $MarginAcceptMicro) AS accepted
         |FROM m QUALIFY rank <= $MarginTopK""".stripMargin,
    // The greedy walk unrolled as MmrK chained CTE stages (the BPE
    // round-unroll discipline): sel1 = pure-relevance pick; stage k
    // scores the not-yet-selected candidates against the union of the
    // previous picks and elects one. rel / pairwise cosines are the
    // shared ordered folds, the step score the same two-literal
    // expression, so selection matches the engine's walk bit-for-bit.
    // Every CTE is MATERIALIZED — the BPE-oracle hazard: stage k
    // references sel1..sel{k-1} twice each, and DuckDB would otherwise
    // inline the chain into an exponential plan (measured: the inlined
    // form allocated ~55k memory mappings, enough to exhaust
    // vm.max_map_count mid-sweep).
    "ann_mmr_rerank" -> {
      val steps = (1 to MmrK).map { k =>
        if (k == 1)
          s"""sel1 AS MATERIALIZED (SELECT vec_id, 1 AS mmr_rank, 0.7 * rel AS score FROM cand
             |         QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) = 1)""".stripMargin
        else {
          val selU = (1 until k).map(j => s"SELECT vec_id FROM sel$j")
            .mkString(" UNION ALL ")
          s"""st$k AS MATERIALIZED (SELECT c.vec_id, 0.7 * c.rel - 0.3 * max(s.s) AS score
             |        FROM cand c JOIN sim s ON s.a = c.vec_id
             |        WHERE s.b IN ($selU) AND c.vec_id NOT IN ($selU)
             |        GROUP BY c.vec_id, c.rel),
             |sel$k AS MATERIALIZED (SELECT vec_id, $k AS mmr_rank, score FROM st$k
             |          QUALIFY row_number() OVER (ORDER BY score DESC, vec_id) = 1)""".stripMargin
        }
      }
      val selAll = (1 to MmrK).map(j => s"SELECT * FROM sel$j")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cand AS MATERIALIZED (SELECT e.vec_id, e.v, ${cosineSql("e.v", "qv.qv")} AS rel
         |         FROM e, qv WHERE e.vec_id <> 0
         |         QUALIFY row_number() OVER (ORDER BY rel DESC, e.vec_id) <= $MmrPoolK),
         |sim AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b, ${cosineSql("x.v", "y.v")} AS s
         |        FROM cand x, cand y WHERE x.vec_id <> y.vec_id),
         |${steps.mkString(",\n")}
         |SELECT vec_id, CAST(mmr_rank AS INT) AS mmr_rank,
         |  CAST(round(score * 1000000) AS BIGINT) AS score_micro
         |FROM ($selAll)""".stripMargin
    },
  )
}
