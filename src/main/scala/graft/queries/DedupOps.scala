package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Lineage.LineageOps

/** Near-duplicate detection for the training-data pipeline: MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup. All pipelines
  * are banded/blocked (candidate generation via equality join on a bucket
  * key, never an all-pairs cross join), so they scale: the shuffle key is
  * the band/bucket, per-bucket fan-out is bounded, and verification runs
  * only on candidates.
  *
  * ALL pipelines here are oracle-checked, including MinHash and SimHash:
  * token/shingle hashing takes the first 64 bits of md5
  * ([[graft.functions.GraftFunctions.md5_64]] — full avalanche, which
  * SimHash's independent-bit assumption needs; a polynomial fold was
  * measured to collapse it, 564k hamming≤3 pairs at sf0.1 vs ~10k), and
  * MinHash permutations are a multiply-shift family (odd multiplier, wrap
  * mod 2^64) on that base hash — all arithmetic DuckDB reproduces
  * bit-for-bit with HUGEINT mod-2^64 folds. This replaces the earlier
  * xxhash64 family, whose internals are not expressible in SQL, at
  * comparable cost (one md5 per shingle + 32 codegen'd multiply-adds,
  * vs 32 full xxhash64 passes over every shingle).
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  val NumPerms = 32 // minhash permutations
  val BandRows = 4  // rows per LSH band → 8 bands
  val NumBands: Int = NumPerms / BandRows

  /** splitmix64 — deterministic generator for the permutation constants
    * (public-domain finalizer; Steele et al., "Fast Splittable
    * Pseudorandom Number Generators").
    */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Multiply-shift permutation constants: h_p(x) = A(p)·x + C(p) mod 2^64.
    * A(p) odd (a bijection of Z/2^64) and < 2^62 so the DuckDB oracle's
    * HUGEINT product A·h stays under 2^126 (signed-128 max is 2^127−1).
    */
  val PermA: IndexedSeq[Long] = (0 until NumPerms).map(p => (splitmix64(2L * p) >>> 2) | 1L)
  val PermC: IndexedSeq[Long] = (0 until NumPerms).map(p => splitmix64(2L * p + 1L))

  /** doc_id + minhash signature array: word-3-gram shingles and ONE base
    * hash per shingle (both tight-loop codegen expressions — the previous
    * transform/slice/concat_ws HOF chain ran interpreted per element),
    * then ALL NumPerms multiply-shift permutation minima in one pass over
    * the base-hash array ([[graft.functions.MinhashSigs]]). Signature
    * values are bit-identical to the per-perm
    * `array_min(transform(bh, mul_add64))` form the oracle reproduces.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    docs.select(col("doc_id"),
      // shingles kept SORTED for the merge-intersect verifier; minima are
      // order-independent, so hashing the sorted array changes nothing.
      array_sort(graft.functions.GraftFunctions.word_shingles(toks, 3)).as("shingles"))
      .select(col("doc_id"), col("shingles"),
        graft.functions.GraftFunctions.minhash_sigs(
          graft.functions.GraftFunctions.md5_64_array(col("shingles")),
          PermA, PermC).as("sig"))
  }

  /** THE band definition, shared verbatim by d2 and d14 (the incremental
    * index reuses it so the persisted table and fresh batches cannot
    * drift): bucket key = band index + the band's signature values,
    * joined as a string (unambiguous: fixed arity, ':' cannot appear in
    * a signed decimal). A hash would narrow the shuffle a little, but
    * the key must be REPRODUCIBLE in the oracle, and only
    * (bucket, doc_id) flows through the shuffle anyway. */
  def bandBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(bandBucketArray).as("bucket"))

  /** The bucket-key array over a `sig` column — the expression form of
    * [[bandBuckets]] for callers that must carry extra columns through
    * the explode (the streaming screen rides the arriving doc's shingles
    * along its band rows; a join-back would be a stream–stream join). */
  def bandBucketArray: Column =
    array((0 until NumBands).map { b =>
      concat_ws(":", (lit(b) +: (0 until BandRows).map(r =>
        col("sig")(b * BandRows + r))): _*)
    }: _*)

  /** MinHash+LSH near-dup pairs: shingle → minhash → band → bucket join →
    * exact-Jaccard verification on candidates (threshold 0.5).
    *
    * The verified pair graph is MATERIALIZED once per (session, corpus)
    * ([[graft.core.Materialize]]): d8's components and tx_source_overlap's
    * provenance matrix consume the same frame, and recomputing the full
    * pipeline per consumer triples its cost.
    */
  private val minhashPairs: Q = (s, d) =>
    graft.core.Materialize.once(s, s"d2_pairs:$d") { computeMinhashPairs(s, d) }

  private def computeMinhashPairs(s: SparkSession, d: String): DataFrame = {
    // Materialize signatures ONCE (the hash fan-out is the expensive part;
    // without this the self-join would recompute 32×|shingles| hashes per
    // side and per band).
    val sigs = minhashSignatures(Tables.documents(s, d)).cutLineage
    // Candidate generation on (band, bucket, id) only — no array payloads
    // through the shuffle.
    val banded = bandBuckets(sigs)
    val candidates = banded.select(col("bucket"), col("doc_id").as("doc_a"))
      .join(banded.select(col("bucket"), col("doc_id").as("doc_b")), Seq("bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // Verification: fetch the two shingle sets per surviving candidate.
    val shA = sigs.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val shB = sigs.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    verifyJaccard(candidates.join(shA, Seq("doc_a")).join(shB, Seq("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** doc_id + 64-bit SimHash over md5-derived distinct-token hashes (sign
    * of per-bit ±1 votes). The whole fold runs in one codegen'd pass per
    * row ([[graft.functions.SimhashFold]] — same semantics as the
    * aggregate/zip_with HOF chain it replaces, which ran interpreted and
    * allocated a fresh 64-slot array per token).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash_fold(
        graft.functions.GraftFunctions.md5_64_array(
          array_distinct(split(trim(col("text")), "\\s+")))).as("simhash"))

  /** Conf key: two-level pigeonhole banding for d3 (default off). SCALE.md
    * prescribes the second level past ~10⁹ docs, where first-level
    * (chunk, value) buckets hold n/2¹⁶ docs and the within-bucket pair
    * check dominates.
    */
  val SimhashTwoLevelConf = "spark.graft.simhash.twoLevel"

  /** SimHash near-dup pairs with Hamming distance ≤ 3, banded on 16-bit
    * chunks (pigeonhole: ≤3 flipped bits leave ≥1 of 4 chunks equal).
    *
    * Under [[SimhashTwoLevelConf]] the REMAINING 48 bits of each outer
    * chunk's band are re-split into 4 × 12-bit sub-chunks (second
    * pigeonhole level): for the outer chunk the ≤3 flipped bits avoid,
    * those bits all land in the other 48, so ≥1 of its 4 sub-chunks is
    * also equal — every qualifying pair still shares one of the 16
    * (outer, sub) bands (LOSSLESS, differential-tested in DedupSpec).
    * The join key grows from 16 to 28 meaningful bits, shrinking
    * worst-case uniform bucket occupancy from n/2¹⁶ to n/2²⁸ at the
    * cost of 4× band rows — the standard remedy once the within-bucket
    * quadratic term dominates, composed from the same equality-join
    * machinery (no new operator).
    */
  private val simhashPairs: Q = (s, d) => {
    val sh = simhash(Tables.documents(s, d)).cutLineage
    val twoLevel = s.conf.getOption(SimhashTwoLevelConf)
      .exists(_.trim.equalsIgnoreCase("true"))
    val bands: Seq[Column] =
      if (!twoLevel)
        (0 until 4).map { j =>
          struct(lit(j).as("chunk_idx"),
            shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL).as("chunk"))
        }
      else
        for (j <- 0 until 4; k <- 0 until 4) yield {
          val outer = shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL)
          // Remaining 48 bits: the other three 16-bit chunks concatenated
          // in ascending chunk order — any fixed arrangement works as long
          // as both sides of a pair derive it identically.
          val others = (0 until 4).filter(_ != j)
          val rem = others.zipWithIndex.map { case (c, i) =>
            shiftleft(
              shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL), i * 16)
          }.reduce(_.bitwiseOR(_))
          val sub = shiftright(rem, k * 12).bitwiseAND(0xFFFL)
          struct(lit(j * 4 + k).as("chunk_idx"),
            // One equality column packing (outer ≪ 12 | sub): 28 bits.
            shiftleft(outer, 12).bitwiseOR(sub).as("chunk"))
        }
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array(bands: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk_idx"), col("c.chunk"))
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Exact n-gram (char-3-gram) Jaccard near-dup pairs, blocked by lang.
    * Pure set arithmetic → fully oracle-checked against DuckDB lists.
    *
    * Scale path: NOT an all-pairs verify. Candidates come from a LOSSLESS
    * prefix filter (All-Pairs/PPJoin): order each doc's grams by ascending
    * document frequency, take the first |g| − ceil(t·|g|) + 1 as the
    * prefix; any pair with Jaccard ≥ t must share a prefix gram (the
    * t·|A∪B| ≥ t·max(|A|,|B|) overlap bound), so an equality join on
    * (lang, prefix-gram) finds every qualifying pair. Filters, in order:
    * size-ratio (min ≥ t·max), PPJoin positional bound per occurrence,
    * then a 64-bucket histogram screen (Σ min(histA, histB) upper-bounds
    * the intersection — [[graft.functions.GramHist64]]) so the O(|A|+|B|)
    * merge-intersect verification runs only on pairs the cheap bound
    * cannot refute.
    *
    * Prefix construction is PER ROW against the global gram-frequency
    * map: the char-3-gram vocabulary is bounded by |charset|³ — corpus-
    * size-independent — so after one explode+partial-agg pass the df table
    * collects to the driver (cap `spark.graft.ngram.vocabLimit`, default
    * 4M rows) and the prefix slice is a codegen'd per-row sort — NO
    * corpus-wide shuffle, window sort, or broadcast join. Past the cap
    * (e.g. a giant multi-byte charset) the code falls back to the
    * distributed join + per-doc window-rank path.
    */
  // t as an exact rational (4/5): threshold arithmetic must be integer-
  // exact or ceil() of an FP product prunes pairs sitting exactly on the
  // threshold (63 * 0.444… = 28.000000000000004 → ceil 29, true α 28).
  private val NgramT = 0.8
  private val NgramTNum = 4L
  private val NgramTDen = 5L

  /** Gram table + candidate stage of d4 (everything up to and including
    * the histogram screen and pair dedup). Split from the verify so (a)
    * the registered query can cut lineage on the candidate set it consumes
    * three times, and (b) PlanSpec can pin the screen's plan shape, which
    * the cut hides from the final frame's explain output.
    */
  private[graft] def ngramStages(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tNum = NgramTNum
    val tDen = NgramTDen
    // char_ngrams returns [] for texts shorter than 3 chars — matching
    // DuckDB's empty generate_series (Spark's sequence(1, len-2) would
    // count DOWN for len<3 and fabricate phantom grams).
    val g = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.GraftFunctions.char_ngrams(col("text"), 3).as("grams"))
      .withColumn("hist", graft.functions.GraftFunctions.gram_hist64(col("grams")))
      .cutLineage
    val vocabLimit = s.conf.getOption("spark.graft.ngram.vocabLimit")
      .map(_.toInt).getOrElse(4000000)
    // Global (per-lang) gram document frequencies → rare-first ordering.
    // One explode + partial-agg pass; map-side combine shrinks the
    // exchange to the vocabulary.
    // Cut BEFORE the size probe: the probe's collect and (on the fallback
    // path) the distributed df join both consume this aggregate — without
    // the cut the fallback would re-run the whole explode+agg from scratch.
    val dfreqDf = g.select(col("lang"), explode(col("grams")).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("df"))
      .cutLineage
    val dfRows = dfreqDf.limit(vocabLimit + 1).collect()
    val pidx =
      if (dfRows.length <= vocabLimit) {
        // Bounded vocabulary: per-row prefix slice, zero shuffles.
        val byLang = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
        dfRows.foreach { r =>
          byLang.computeIfAbsent(r.getString(0),
            _ => new java.util.HashMap[String, java.lang.Long]())
            .put(r.getString(1), r.getLong(2))
        }
        g.select(col("lang"), col("doc_id"), size(col("grams")).as("sz"),
          col("hist"),
          posexplode(graft.functions.GraftFunctions.rare_prefix(
            col("lang"), col("grams"), byLang, tNum, tDen)).as(Seq("pos", "gram")))
      } else {
        // Fallback: distributed df join + per-doc window rank (one
        // shuffle-by-doc + sort; output only Σ prefix lengths).
        val ex = g.select(col("doc_id"), col("lang"), size(col("grams")).as("sz"),
          col("hist"), explode(col("grams")).as("gram"))
        val byRarity = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("df", "gram")
        ex.join(dfreqDf, Seq("lang", "gram"))
          .withColumn("pos", row_number().over(byRarity) - 1)
          .where(col("pos") <
            expr(s"CAST(sz - ((sz * $tNum + ${tDen - 1}) div $tDen) + 1 AS INT)"))
          .select(col("lang"), col("doc_id"), col("sz"), col("hist"),
            col("pos"), col("gram"))
      }
    // Candidate generation: equality self-join on (lang, prefix gram).
    // Size-ratio filter in the same exact integer arithmetic as alpha:
    // min·tDen ≥ max·tNum avoids an FP product round-to-even pruning a
    // pair sitting exactly on the boundary (e.g. 4k vs 5k at t=4/5).
    // The PPJoin positional filter applies PER OCCURRENCE — overlap ≤
    // 1 + min(remaining suffix lengths past this shared gram). The bound
    // is loosest at the pair's first shared prefix gram (minimal
    // positions), so a qualifying pair always survives through that
    // occurrence: filtering before the pair-dedup is lossless and avoids
    // a wide groupBy over the raw occurrence stream. The histogram screen
    // (Σ min(histA, histB) < α refutes the pair — pair-level, position-
    // independent, so per-occurrence application is equally lossless)
    // runs in the SAME codegen stage as the join output, so refuted
    // occurrences never reach the dedup shuffle at all.
    val alphaExpr = expr(
      s"(CAST(sz_a + sz_b AS BIGINT) * $tNum + ${tNum + tDen - 1}) div ${tNum + tDen}")
    val cand = pidx.select(col("lang"), col("gram"), col("doc_id").as("doc_a"),
        col("sz").as("sz_a"), col("hist").as("h_a"), col("pos").as("pa"))
      .join(pidx.select(col("lang"), col("gram"), col("doc_id").as("doc_b"),
        col("sz").as("sz_b"), col("hist").as("h_b"), col("pos").as("pb")),
        Seq("lang", "gram"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")) * tDen >=
          greatest(col("sz_a"), col("sz_b")) * tNum)
      .withColumn("alpha", alphaExpr)
      .where(
        lit(1) + least(col("sz_a") - col("pa") - 1, col("sz_b") - col("pb") - 1)
          >= col("alpha") &&
        graft.functions.GraftFunctions.min_sum64(col("h_a"), col("h_b"))
          .cast("bigint") >= col("alpha"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("lang"), col("doc_a"), col("doc_b"),
        col("sz_a"), col("sz_b"), col("alpha"))
    (g, cand)
  }

  /** The candidate set alone — PlanSpec's hook for the screen stage. */
  private[graft] def ngramCandidates(s: SparkSession, d: String): DataFrame =
    ngramStages(s, d)._2

  private val ngramJaccard: Q = (s, d) => {
    val t = NgramT
    val (g, cand) = ngramStages(s, d)
    // Exact verification with the codegen'd allocation-free merge-
    // intersect over sorted arrays, on the few pairs the bounds could not
    // refute.
    // The verify working set is CANDIDATE-bounded, never corpus-bounded:
    // semi-join vg down to candidate docs first (broadcasting only the
    // candidate id lists), then broadcast the reduced gram arrays.
    // Broadcasting vg itself would ship every document's gram array —
    // O(corpus text) through the driver — which no screen justifies.
    // The cut materializes the candidate set once for its three consumers
    // (two key lists + the verify join).
    val candC = cand.cutLineage
    val vg = g.select(col("doc_id"), array_sort(col("grams")).as("vgrams"))
    val ga = vg.join(broadcast(candC.select(col("doc_a").as("doc_id")).distinct()),
        Seq("doc_id"), "leftsemi")
      .select(col("doc_id").as("doc_a"), col("vgrams").as("g_a"))
    val gb = vg.join(broadcast(candC.select(col("doc_b").as("doc_id")).distinct()),
        Seq("doc_id"), "leftsemi")
      .select(col("doc_id").as("doc_b"), col("vgrams").as("g_b"))
    val inter = graft.functions.GraftFunctions.sorted_intersect_size(col("g_a"), col("g_b"))
    candC.join(broadcast(ga), Seq("doc_a")).join(broadcast(gb), Seq("doc_b"))
      // Division form must match the oracle exactly (a multiplied-
      // through comparison can flip at the representability boundary).
      .where(inter.cast("double") /
        (col("sz_a") + col("sz_b") - inter).cast("double") >= t)
      .select(col("doc_a"), col("doc_b"), col("lang"))
  }

  /** Embedding-cosine near-dup pairs, blocked by label; the dot product is
    * an ordered left fold (codegen'd [[graft.functions.DotFold]], same FP
    * order as functions.aggregate) so DuckDB's list_reduce reproduces it
    * bit-for-bit.
    *
    * EXACT tile-blocked all-pairs, not LSH — measured refutation: at the
    * 0.3 threshold this corpus is dense AT the boundary (sf0.1: 1363 of
    * 1449 passing pairs lie in [0.3, 0.4); nearest reject 0.29998 vs
    * nearest accept 0.30001). Random-hyperplane collision probability is
    * 1 − θ/π = 0.597 at cos 0.3 vs 0.5 for the near-orthogonal bulk; no
    * banding scheme separates 0.597 from 0.5 with 100% recall while
    * pruning, so a lossy candidate generator cannot keep the exact oracle
    * green. The output itself is Θ(selectivity·n²) per label, so the scale
    * lever is the JOIN SHAPE, not candidate pruning:
    *
    * - Each label's vectors are hashed into G = ceil(maxLabelRows/tile)
    *   tiles; a vector in tile g joins tile-pair keys (g, j≥g) on the left
    *   and (i≤g, g) on the right, so every unordered pair meets in exactly
    *   one of the G(G+1)/2 tile-pair partitions.
    * - Per-task working set is 2 tiles (bounded memory — a plain per-label
    *   self-join buffers the label's ENTIRE vector set in one sort-merge
    *   task at 100 TB), and parallelism is G(G+1)/2 per label instead of
    *   one task per label. Replication cost: each row shuffles G+1 times.
    * - Verification is the codegen'd dot fold — no interpreted HOF on the
    *   O(pairs) hot path.
    */
  def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    val tile = s.conf.getOption("spark.graft.neardup.tile").map(_.toInt).getOrElse(8192)
    // Materialized once per (session, corpus, tiling): d5 emits the pairs,
    // d6 builds components over the same graph — same sharing rationale as
    // the d2 pair graph ([[minhashPairs]]).
    graft.core.Materialize.once(s, s"d5_pairs:$d:tile=$tile") {
      computeEmbeddingPairs(s, d, tile)
    }
  }

  private[graft] def computeEmbeddingPairs(s: SparkSession, d: String, tile: Int): DataFrame = {
    val e0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // Norms are per-vector: compute them ONCE per side before the pair
      // join; dot_fold(v, v) folds x*x in element order, same FP result as
      // the aggregate-HOF form.
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot_fold(col("v"), col("v"))))
      .cutLineage
    // Tiles per label: a label-column-only count (cheap next to the pair
    // join; at scale this is a column-pruned scan + partial agg). Null on
    // an empty table (max over zero groups) → one tile.
    val maxLabelRows = Option(e0.groupBy("label").count()
      .agg(max(col("count"))).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val numTiles = math.max(1L, (maxLabelRows + tile - 1) / tile).toInt
    val e = e0.withColumn("g",
      pmod(xxhash64(col("vec_id")), lit(numTiles)).cast("int"))
    val left = e.select(col("label"), col("g").as("ti"),
      explode(sequence(col("g"), lit(numTiles - 1))).as("tj"),
      col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val right = e.select(col("label"),
      explode(sequence(lit(0), col("g"))).as("ti"), col("g").as("tj"),
      col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    val dot = graft.functions.GraftFunctions.dot_fold(col("v_a"), col("v_b"))
    val den = col("n_a") * col("n_b")
    left.join(right, Seq("label", "ti", "tj"))
      // Off-diagonal tile pairs meet once in arbitrary id order; diagonal
      // tiles see both orders and self-pairs, so order there.
      .where(col("ti") < col("tj") || col("id_a") < col("id_b"))
      // Zero-norm guard (ANSI divide-by-zero; see GraftFunctions.cosine).
      .withColumn("cosine",
        when(den === 0.0d, lit(null).cast("double")).otherwise(dot / den))
      .where(col("cosine") >= 0.3)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("label"))
  }

  private val embeddingNearDup: Q = (s, d) => embeddingPairs(s, d)

  /** OPTIONAL random-hyperplane LSH prefilter for embedding near-dup —
    * for SPARSER similarity thresholds than d5's 0.3. d5 stays exact by
    * default because at cos ≥ 0.3 this corpus is dense AT the boundary
    * (see [[embeddingPairs]]): hyperplane collision probability is
    * 1 − θ/π = 0.597 at the threshold vs 0.5 for the bulk, and no banding
    * separates those with full recall. At a sparse threshold (≥ ~0.7) the
    * gap is wide (0.795 vs 0.5) and banding prunes honestly. Candidates =
    * equality join on (label, band, band-signature); verification is the
    * same exact cosine as the exact path, so precision is 1 by
    * construction and only RECALL is probabilistic (1 − (1 − p^r)^b per
    * pair). Hyperplanes derive from splitmix64 — deterministic across
    * runs and engines.
    */
  def embeddingPairsLsh(s: SparkSession, d: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val dim = Tables.embeddings(s, d).select(size(col("embedding")))
      .head.getInt(0)
    val nBits = bands * rowsPerBand
    // Deterministic hyperplanes: splitmix64 → uniform in [-1, 1).
    val planes: Array[Array[Double]] = Array.tabulate(nBits, dim) { (b, i) =>
      (splitmix64(0xE5113L * (b.toLong * 4099 + i)).toDouble / (1L << 63).toDouble)
    }
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot_fold(col("v"), col("v"))))
      .cutLineage
    // Signature bit = sign(v · plane); band key packs rowsPerBand bits.
    // ONE codegen pass computes every band key (HyperplaneBands) instead
    // of nBits separate dot_fold HOF chains — same left-fold order per
    // bit, so every key is bit-identical to the composed form
    // (ExpressionsSpec differential); posexplode(pos=band, col=key)
    // replaces the literal struct-array explode.
    // Candidate generation is ID-ONLY (the d2 discipline): the band
    // explode and bucket self-join shuffle (id, label, band, sig) tuples
    // — NOT the vectors, which would otherwise ride the shuffle `bands`
    // times per row. Vectors re-join by unique vec_id only for the
    // deduped candidate pairs, once per side.
    val banded = e
      .select(col("vec_id"), col("label"),
        posexplode(graft.functions.GraftFunctions.hyperplane_bands(
          col("v"), planes.flatten.toIndexedSeq, dim, bands, rowsPerBand))
          .as(Seq("band", "sig")))
    val cand = banded.select(col("label"), col("band"), col("sig"),
        col("vec_id").as("id_a"))
      .join(banded.select(col("label"), col("band"), col("sig"),
        col("vec_id").as("id_b")), Seq("label", "band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("label"))
      .dropDuplicates("id_a", "id_b")
    val va = e.select(col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val vb = e.select(col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    val dot = graft.functions.GraftFunctions.dot_fold(col("v_a"), col("v_b"))
    val den = col("n_a") * col("n_b")
    cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cosine",
        when(den === 0.0d, lit(null).cast("double")).otherwise(dot / den))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("label"))
  }

  /** Exact per-label all-pairs at an arbitrary threshold (the d5 pipeline
    * with the threshold parameterized) — recall reference for
    * [[embeddingPairsLsh]].
    */
  def embeddingPairsExact(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot_fold(col("v"), col("v"))))
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    val dot = graft.functions.GraftFunctions.dot_fold(col("v_a"), col("v_b"))
    val den = col("n_a") * col("n_b")
    a.join(b, Seq("label")).where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(den === 0.0d, lit(null).cast("double")).otherwise(dot / den))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("label"))
  }

  /** Near-dup DEDUP CLUSTERS — the step a training pipeline actually runs
    * on pair output: connected components over the d5 near-dup graph, one
    * canonical representative (min id) per cluster, singletons included.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — each phase
    * is a min-aggregate + equality join + distinct, and the edge set
    * converges in O(log n) rounds regardless of component DIAMETER. Plain
    * hop-by-hop min propagation was measured at 21 rounds on sf0.1 (the
    * near-dup graph has long chains); star contraction does it in 6. At
    * 100 TB, rounds are synchronous shuffles, so round count is the cost.
    * Convergence witness: (edge count, sum of per-edge hashes) — two
    * scalars to the driver per round.
    */
  private val neardupComponents: Q = (s, d) =>
    connectedComponents(
      embeddingPairs(s, d).select(col("id_a"), col("id_b")),
      Tables.embeddings(s, d).select(col("vec_id").as("id")))
      .withColumnRenamed("id", "vec_id")

  /** Connected components over an undirected pair graph: (id, cluster_rep)
    * for EVERY node (singletons map to themselves), rep = min id in the
    * component. `pairs` must have columns (id_a, id_b). See
    * [[neardupComponents]] for the algorithm discussion.
    *
    * Hybrid execution, the shape production CC implementations use: star
    * contraction strictly SHRINKS the edge set, so the distributed loop
    * runs only while the graph exceeds `spark.graft.cc.localFinishEdges`
    * (default 4M ≈ tens of MB); below the bound one deterministic
    * union-find pass on the driver replaces what would otherwise be
    * several more synchronous shuffle rounds — near-dup pair graphs are
    * sparse relative to the corpus, so at any scale the tail of the
    * contraction is small even when the input corpus is 100 TB. Set the
    * bound to 0 to force the fully distributed path (differential-tested
    * against the hybrid in DedupSpec).
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    def symmetrized(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = symmetrized(e)
      // m(u) = min(N(u) ∪ {u}); built once per phase, reused by the join
      // and (small phase) the self-edge union — Catalyst reuses the
      // aggregation exchange.
      val m = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val withM = sym.join(m, Seq("src"))
      val emitted =
        if (large)
          withM.where(col("dst") > col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
        else
          withM.where(col("dst") <= col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
            .unionAll(m.select(col("src"), col("m").as("dst")))
      val noSelf = emitted.where(col("src") =!= col("dst"))
      // Dedup only on the small phase (it defines the next round's edge
      // set / the convergence signature); duplicates through the large
      // phase can't change any min and just flow into small's aggregate.
      if (large) noSelf else noSelf.distinct()
    }
    def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }

    val spark = pairs.sparkSession
    val localBound = spark.conf.getOption("spark.graft.cc.localFinishEdges")
      .map(_.toLong).getOrElse(4000000L)

    var edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst")).cutLineage
    var prev = sig(edges)
    var stable = prev._1 == 0L
    while (!stable && prev._1 > localBound) {
      val next = star(star(edges, large = true), large = false).cutLineage
      val cur = sig(next)
      // The (count, hash-sum) signature could collide across distinct edge
      // sets; an operator sold as oracle-exact must not terminate on a
      // collision. Signature equality is only the cheap screen — confirm
      // with a real set compare (both sides are distinct and equal-count
      // here, so one exceptAll suffices). Runs once per convergence, not
      // per round.
      stable = cur == prev && next.exceptAll(edges).isEmpty
      prev = cur
      // The superseded round's blocks are dead (next is materialized and
      // lineage-free) — release them or every round stays pinned in
      // executor storage for the rest of the session.
      graft.core.Lineage.release(edges)
      edges = next
    }
    val reps =
      if (stable) {
        // Converged edges form stars: every node's rep is its min
        // neighbor (or itself for singletons).
        symmetrized(edges).groupBy("src").agg(min(col("dst")).as("mn"))
          .select(col("src").as("id"), least(col("mn"), col("src")).as("rep"))
      } else {
        // Local finish: the contracted edge set fits the bound — one
        // deterministic union-find pass replaces the remaining shuffle
        // rounds. Path-halving find; union by min keeps rep = min id.
        val local = edges.select(col("src"), col("dst")).collect()
        graft.core.Lineage.release(edges)
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) {
            val gp = parent.getOrDefault(p, p)
            parent.put(x, gp)
            x = gp
            p = parent.getOrDefault(x, x)
          }
          x
        }
        val endpoints = new java.util.LinkedHashSet[Long]()
        local.foreach { r =>
          endpoints.add(r.getLong(0)); endpoints.add(r.getLong(1))
          val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
          if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
        }
        // Every union attaches the larger root under the smaller, so each
        // component's final root is its min id — same rep the star
        // contraction converges to.
        import scala.jdk.CollectionConverters._
        val pairsOut = endpoints.asScala.toSeq.map(id => (id, find(id)))
        import spark.implicits._
        spark.createDataset(pairsOut).toDF("id", "rep")
      }
    nodes.join(reps, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("cluster_rep"))
  }

  /** Text dedup clusters: connected components over the MinHash+LSH
    * near-dup graph (d2) — the canonical MinHashLSH → CC pipeline that
    * collapses each near-dup group of DOCUMENTS to one keeper. Same star
    * contraction as d6; with the md5-derived signature family the whole
    * chain (signatures → bands → verified pairs → components) is
    * oracle-exact.
    */
  /** Materialized like the d2 pair graph it consumes: d8 and d10 both
    * need the components, and the multi-round star-contraction fixpoint
    * is the most expensive piece of either — one compute per
    * (session, corpus), not one per consumer.
    */
  private val minhashComponents: Q = (s, d) =>
    // The conf is part of the cache key (like d5's tile conf): toggling
    // localFinishEdges mid-session must recompute, not serve a stale copy.
    graft.core.Materialize.once(s, s"d8_components:$d:" +
        s.conf.getOption("spark.graft.cc.localFinishEdges").getOrElse("")) {
      connectedComponents(
        minhashPairs(s, d).select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        Tables.documents(s, d).select(col("doc_id").as("id")))
        .withColumnRenamed("id", "doc_id")
    }

  /** LSH recall evaluation (d19) — the dedup twin of ann_recall_eval:
    * how much of the EXACT near-dup pair set does d2's banded candidate
    * generation catch, per Jaccard bucket? Ground truth is exact
    * all-pairs word-shingle Jaccard ≥ 0.5 within language strata (the
    * d4/d5 same-group restriction that bounds the quadratic side — at
    * 100 TB the exact arm runs on an eval SAMPLE, never the corpus; the
    * banded arm is the production path being graded). Caught = the d2
    * pair graph (verified, so caught ⊆ exact and bucket values agree by
    * construction) restricted to the same strata. The per-bucket recall
    * makes the LSH S-curve measurable: recall must rise toward 1 as
    * Jaccard → 1 — if the 0.9-bucket recall drops, the banding broke.
    */
  private val lshRecallEval: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sh = minhashSignatures(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("lang"), col("doc_id"), col("shingles"),
        graft.functions.GraftFunctions.gram_hist64(col("shingles")).as("hist"))
      .cutLineage
    val a = sh.select(col("lang"), col("doc_id").as("doc_a"),
      col("shingles").as("sh_a"), col("hist").as("h_a"))
    val b = sh.select(col("lang"), col("doc_id").as("doc_b"),
      col("shingles").as("sh_b"), col("hist").as("h_b"))
    // Broadcast the replicated side so the shingle arrays never shuffle
    // (an SMJ on 5 lang groups re-sorts every array ~|group| times —
    // measured 26 s vs ~3 s at sf0.1), and push the LOSSLESS length
    // filter before the merge-intersect: J ≥ 0.5 ⟹ i ≥ (|a|+|b|)/3 and
    // i ≤ min ⟹ max ≤ 2·min — pairs failing it cannot reach the
    // threshold, so the oracle needs no mirror. The broadcast is
    // guarded like annServeStream's index collect: at 100 TB the exact
    // arm runs on an evaluation SAMPLE, and an oversized corpus must
    // fail fast here, not OOM executors mid-broadcast.
    val bcastBound = {
      val t = s.sessionState.conf.autoBroadcastJoinThreshold
      if (t > 0) t else 10L * 1024 * 1024
    }
    // `sh` is already materialized (cutLineage), so MEASURE the real
    // payload with one cheap aggregate instead of trusting plan stats —
    // post-checkpoint origin stats over-estimate string arrays by ~100x
    // and would reject corpora that broadcast fine.
    val actualBytes = shinglePayloadBytes(sh)
    require(actualBytes <= bcastBound * 8,
      s"d19_lsh_recall_eval broadcasts the corpus shingle table for its " +
        s"exact arm, but its measured payload ($actualBytes bytes) exceeds " +
        s"${bcastBound * 8} bytes (8x spark.sql.autoBroadcastJoinThreshold). " +
        "Run the eval on a sampled corpus frame instead.")
    // The histogram screen (d4's discipline, same codegen'd kernels):
    // J ≥ 0.5 ⟺ 3·inter ≥ |a|+|b|, and Σ min(histA, histB) upper-bounds
    // the intersection, so pairs with 3·minsum < |a|+|b| cannot qualify —
    // LOSSLESS, the oracle needs no mirror. It runs in the same codegen
    // stage as the join output and spares the O(|a|+|b|) merge-intersect
    // for the ~90% of same-lang pairs the cheap bound refutes (the exact
    // arm was 111 s of executor CPU at sf0.1, the family's worst).
    val exact = verifyJaccard(
      a.join(broadcast(b), Seq("lang")).where(col("doc_a") < col("doc_b") &&
        size(col("sh_b")) <= size(col("sh_a")) * 2 &&
        size(col("sh_a")) <= size(col("sh_b")) * 2 &&
        graft.functions.GraftFunctions.min_sum64(col("h_a"), col("h_b")) * 3 >=
          size(col("sh_a")) + size(col("sh_b"))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val la = docs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"))
    val lb = docs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"))
    val caught = minhashPairs(s, d)
      .join(la, Seq("doc_a")).join(lb, Seq("doc_b"))
      .where(col("lang_a") === col("lang_b"))
    def bucket = least(floor(col("jaccard") * 10), lit(9)).cast("int")
    val ex = exact.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_exact"))
    val ca = caught.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_caught"))
    ex.join(ca, Seq("bucket"), "left")
      .select(col("bucket"), col("n_exact"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        floor(coalesce(col("n_caught"), lit(0L)) * lit(1000000L) / col("n_exact"))
          .cast("long").as("recall_micro"))
  }

  /** Dedup observability (d18) — the cluster-size histogram every dedup
    * report leads with: over the d8 component assignment (materialized —
    * computing this report never re-runs the banding), how many clusters
    * exist at each size, how many docs they hold, and how many are
    * REDUNDANT (size − 1 per cluster — what removal would reclaim).
    * Singletons are real rows (d8 assigns every doc a component), so the
    * histogram conserves the corpus: Σ n_docs == |documents|, spec-pinned.
    * Scale shape: two map-side-combinable hash aggregates over the
    * (doc_id, cluster_rep) assignment — output bounded by the distinct
    * cluster-size count, integer-exact throughout. */
  private val clusterStats: Q = (s, d) => {
    val sizes = minhashComponents(s, d)
      .groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
  }

  /** Incremental ingest dedup — the arriving batch (one source) checked
    * against the existing corpus by content fingerprint: the "don't
    * re-ingest what's already in the lake" gate that runs on every
    * delivery. One hash-partitioned left join on the fingerprint; the
    * corpus side pre-aggregates to (hash, min doc_id) so the join input
    * is one row per distinct content, never the raw corpus.
    */
  /** See [[incrementalDedupOf]]; the registered query binds it to the
    * documents table with `src19` as the arriving delivery. */
  val IncomingSource = "src19"

  def incrementalDedupOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = docs.where(col("source") =!= IncomingSource)
      .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("corpus_dup"))
    // A delivery can also duplicate ITSELF — without the intra-batch
    // window, two identical new docs both pass the corpus check and
    // become lake duplicates on the next delivery. Corpus match wins the
    // attribution; otherwise the batch's own min doc_id does.
    val intraMin = min(col("doc_id")).over(Window.partitionBy("h"))
    docs.where(col("source") === IncomingSource)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("intra_min", intraMin)
      .join(corpus, Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("corpus_dup"),
          when(col("intra_min") < col("doc_id"), col("intra_min"))).as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  private val incrementalDedup: Q = (s, d) =>
    incrementalDedupOf(Tables.documents(s, d))

  /** Token-window size for [[dupSpans]] (the W of exact-substring dedup;
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" use 50 BPE tokens — scaled to this corpus's ~50-token docs).
    */
  val SpanWindow = 8

  /** Exact substring-span dedup (d9): every W-token window of every
    * document is fingerprinted; a window whose fingerprint occurs at ≥2
    * sites corpus-wide is a DUPLICATED SPAN, and each document reports
    * its duplicated-window count and fraction (the per-doc removal signal
    * the exact-substring pass of a training pipeline acts on).
    *
    * Scale shape: only (doc_id, window-fingerprint) pairs shuffle — the
    * window text never leaves the map side; fingerprint counts are one
    * hash aggregate with map-side combine (vocabulary-sized, Zipf
    * bounded); the count join back is fingerprint-keyed. Both engines
    * group by md5(window), so the result is identical by construction
    * even in the (practically impossible) event of a digest collision.
    */
  /** W-token window fingerprints of a text column — ONE definition shared
    * by batch d9 and the streaming twin so parity cannot drift. */
  def spanFingerprints(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) >= SpanWindow,
      transform(sequence(lit(1), size(toks) - (SpanWindow - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(SpanWindow))))))
      .otherwise(array().cast("array<string>"))
  }

  def dupSpansOf(docs: DataFrame): DataFrame = {
    val w = docs
      .select(col("doc_id"), explode(spanFingerprints(col("text"))).as("h"))
    val counts = w.groupBy("h").agg(count(lit(1)).as("cnt"))
    w.join(counts, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac_e6",
        floor(col("n_dup_windows") * lit(1000000L) / col("n_windows")).cast("long"))
  }

  private val dupSpans: Q = (s, d) => dupSpansOf(Tables.documents(s, d))

  /** Duplicated-span REMOVAL (d17) — the repair action d9's detection
    * signal exists for (Lee et al. 2022 remove the duplicated substring,
    * not the document): a token position is COVERED when any
    * [[SpanWindow]]-token window containing it is duplicated corpus-wide
    * (fingerprint count ≥ 2, [[spanFingerprints]] VERBATIM — one window
    * definition for detect and repair), and the scrubbed text is the
    * uncovered tokens rejoined in order.
    *
    * Scale shape: beyond d9's own traffic (fingerprints only — window
    * text never shuffles; one map-side-combinable count aggregate), the
    * repair adds a per-doc sorted list of duplicated window STARTS
    * (bounded by windows/doc) and one doc_id-keyed join back to the
    * text; the coverage test and token rebuild are per-row HOFs — zero
    * extra shuffle, O(n·|dup starts|) per doc. Exact string output, no
    * float anywhere. */
  def spanScrubOf(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"))
    val w = docs
      .select(col("doc_id"), posexplode(spanFingerprints(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
    val counts = w.groupBy("h").agg(count(lit(1)).as("cnt"))
    val starts = w.join(counts, Seq("h")).where(col("cnt") > 1)
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("starts"))
    val spanEnd = lit(SpanWindow - 1)
    docs.join(starts, Seq("doc_id"), "left")
      // Stage toks/starts as multi-referenced aliases so the split runs
      // once per row (the scoredDocs staging discipline).
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("st"))
      .select(col("doc_id"), col("toks"), col("st"),
        filter(sequence(lit(1), size(col("toks"))),
          p => !exists(col("st"), s0 => p >= s0 && p <= s0 + spanEnd))
          .as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(transform(col("kept"),
          p => element_at(col("toks"), p)), " ").as("scrubbed"))
  }

  private val spanScrub: Q = (s, d) => spanScrubOf(Tables.documents(s, d))

  /** Cluster dedup with a QUALITY keeper: production pipelines keep the
    * BEST document of a near-dup cluster (longest / highest-scoring), not
    * the smallest id. Composes the d8 components with a per-cluster
    * argmax — expressed with the native top-k aggregate at k=1, so the
    * keeper election shuffles one 1-entry buffer per (cluster, split)
    * and is deterministic under ties (n_chars desc, doc_id asc).
    */
  private val keepBest: Q = (s, d) => {
    val comp = minhashComponents(s, d)
    val scored = comp.join(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val best = scored.groupBy(col("cluster_rep"))
      .agg(graft.functions.TopKByLong.top_k_by(col("n_chars"), col("doc_id"), 1).as("top"))
      .select(col("cluster_rep"), col("top").getItem(0).getField("id").as("keeper_id"))
    comp.join(best, Seq("cluster_rep"))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Chunk-level dedup over content-defined chunks — the payoff of CDC
    * chunking (TextOps.cdcChunkSpans): repeated passages (boilerplate,
    * license headers, syndicated paragraphs) share chunk fingerprints
    * even when the documents CONTAINING them differ, so sub-document
    * dedup falls out of a first-occurrence election on the 64-bit chunk
    * hash. Per document: chunk count, duplicate-chunk count, duplicate
    * bytes. Shapes: the first-occurrence election is a map-side-combinable
    * min(struct(doc_id, chunk_idx, chunk_len)) per chunk_hash — NOT a
    * row_number window, because the motivating workload (license
    * headers, boilerplate) makes some chunk_hash groups corpus-sized and
    * a window would serialize that group's sort on one task. The hot
    * hash instead collapses to one row per map task in the partial agg.
    * A doc's dup counts then derive WITHOUT joining back through the
    * skewed hash key: dups(doc) = chunks(doc) − firsts-won-by(doc), and
    * dup_bytes(doc) = bytes(doc) − first_bytes-won-by(doc) (chunk_len
    * rides in the min struct after the unique (doc_id, chunk_idx)
    * prefix, so it never affects the ordering). Only (doc_id, idx, len,
    * hash) tuples ever shuffle — chunk TEXT never leaves the map side,
    * which is what makes this viable at 100 TB (longs at ~1/chunk-size
    * of corpus byte volume). Tie order (doc_id, chunk_idx) makes the
    * keeper deterministic; a within-doc repeated chunk counts as dup too
    * (same hash, later idx), matching the d9 span view.
    */
  def chunkDedupOf(docs: DataFrame): DataFrame = {
    val spans = TextOps.cdcChunkSpansOf(docs)
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len").cast("long")).as("total_bytes"))
    val firstsPerDoc = spans
      .groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_idx"),
        col("chunk_len").cast("long").as("chunk_len"))).as("first_occ"))
      .groupBy(col("first_occ.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_first"),
        sum(col("first_occ.chunk_len")).as("first_bytes"))
    perDoc.join(firstsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_first"), lit(0L))).as("n_dup_chunks"),
        (col("total_bytes") - coalesce(col("first_bytes"), lit(0L))).as("dup_bytes"))
  }

  private val chunkDedup: Q = (s, d) => chunkDedupOf(Tables.documents(s, d))

  /** The registered face of [[embeddingPairsLsh]] — the 100 TB sibling of
    * d5's exact all-pairs. Threshold 0.4 is the SPARSE regime for this
    * corpus (the fixture's cosine ceiling is ~0.51, so 0.4 keeps ~5-90
    * qualifying pairs out of ~10⁴-10⁵ same-label candidates), which is
    * where banded LSH is honest: collision probability for a qualifying
    * pair across 16 4-bit bands is high while the bulk at cos≈0 almost
    * never collides. The exact-cosine verify step makes precision 1 by
    * construction; DedupSpec's planted-cluster property pins recall vs
    * [[embeddingPairsExact]].
    */
  val D12Threshold = 0.4

  private val embeddingLsh: Q = (s, d) => embeddingPairsLsh(s, d, D12Threshold)

  /** Measured broadcast payload of a shingle frame (column `shingles`:
    * array<string>) — OCTETS plus ~24 B of JVM array/offset overhead per
    * element, never characters: a UTF-8 multi-byte corpus carries more
    * bytes than characters and a char-count guard would under-size what
    * actually rides the broadcast. Used by d19's exact-arm guard;
    * exercised at the multi-byte boundary in DedupSpec. */
  private[graft] def shinglePayloadBytes(sh: DataFrame): Long = sh
    .select(coalesce(sum(aggregate(col("shingles"), lit(0L),
      (acc, x) => acc + octet_length(x) + lit(24L))), lit(0L)).as("b"))
    .head().getLong(0)

  /** Exact-Jaccard verification shared by d2's batch path, d14, and the
    * streaming ingest screen: the candidate frame must carry sorted
    * shingle arrays `sh_a`/`sh_b`. */
  def verifyJaccard(cands: DataFrame): DataFrame = cands
    .withColumn("inter",
      graft.functions.GraftFunctions.sorted_intersect_size(col("sh_a"), col("sh_b")))
    .withColumn("jaccard",
      col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
    .where(col("jaccard") >= 0.5)

  /** d14: incremental NEAR-dup index maintenance — the production ingest
    * shape d7 covers for exact dedup, done for MinHash/LSH: a new
    * delivery ([[IncomingSource]]) is merged into the PERSISTED corpus
    * index without recomputing the corpus. The index is two bucketed
    * artifacts a lake keeps between deliveries, here materialized once
    * per (session, corpus): the signature table bucketed by doc_id
    * (verification lookups) and the band table bucketed by bucket
    * (candidate joins) — both consumed with NO exchange below the
    * corpus side, so per delivery only BATCH-sized data shuffles
    * (batch bands into the persisted band layout, candidate ids into
    * the signature layout). The band definition is [[bandBuckets]],
    * shared VERBATIM with d2, so the persisted table and fresh batches
    * cannot drift. Output: the delivery's new near-dup pairs — exactly
    * d2's pairs restricted to ≥1 batch endpoint (batch × corpus plus
    * intra-batch; corpus × corpus pairs were found at earlier
    * deliveries). The append step is then an O(batch) write of the new
    * band/signature rows into the same layouts.
    */
  /** The persisted corpus-index artifacts (see [[incrementalMinhash]]),
    * shared with the streaming ingest screen
    * ([[graft.streaming.DocStreaming.neardupScreenStream]]): signatures
    * bucketed by doc_id, bands bucketed by bucket. */
  def corpusIndexSigs(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.onceBucketed(
        s, s"d14_corpus_sigs:$d", 32, "doc_id") {
      minhashSignatures(
        Tables.documents(s, d).where(col("source") =!= IncomingSource))
    }

  def corpusIndexBands(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.onceBucketed(
        s, s"d14_corpus_bands:$d", 32, "bucket") {
      bandBuckets(corpusIndexSigs(s, d))
    }

  private val incrementalMinhash: Q = (s, d) => {
    val all = Tables.documents(s, d)
    val corpusSigs = corpusIndexSigs(s, d)
    val corpusBands = corpusIndexBands(s, d)
    val batchSigs = minhashSignatures(
      all.where(col("source") === IncomingSource)).cutLineage
    val batchBands = bandBuckets(batchSigs)
    // Batch × corpus candidates: the corpus band table is consumed in
    // its bucket layout — only batch bands move.
    val bc = batchBands.select(col("bucket"), col("doc_id").as("bid"))
      .join(corpusBands.select(col("bucket"), col("doc_id").as("cid")),
        Seq("bucket"))
      .select(col("bid"), col("cid")).dropDuplicates("bid", "cid")
    // Intra-batch candidates: a delivery can near-duplicate itself (the
    // d7 intra-batch discipline); batch-sized self-join.
    val bb = batchBands.select(col("bucket"), col("doc_id").as("doc_a"))
      .join(batchBands.select(col("bucket"), col("doc_id").as("doc_b")),
        Seq("bucket"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
    // Verification (Jaccard is symmetric, so side labels are free): the
    // corpus shingle lookup rides the doc_id bucket layout.
    val bcv = verifyJaccard(bc
        .join(batchSigs.select(col("doc_id").as("bid"),
          col("shingles").as("sh_a")), Seq("bid"))
        .join(corpusSigs.select(col("doc_id").as("cid"),
          col("shingles").as("sh_b")), Seq("cid")))
      .select(least(col("bid"), col("cid")).as("doc_a"),
        greatest(col("bid"), col("cid")).as("doc_b"), col("jaccard"))
    val bbv = verifyJaccard(bb
        .join(batchSigs.select(col("doc_id").as("doc_a"),
          col("shingles").as("sh_a")), Seq("doc_a"))
        .join(batchSigs.select(col("doc_id").as("doc_b"),
          col("shingles").as("sh_b")), Seq("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    bcv.unionByName(bbv)
  }

  /** d13: perceptual-hash IMAGE near-dup — the dedup × multimodal cell.
    * Per document a pattern PNG is synthesized on the executors, pushed
    * through the REAL `javax.imageio` round trip, and reduced to a
    * 56-bit dHash from the DECODED raster
    * ([[MultimodalOps.PhashCodec]]); pairs at Hamming ≤ 3 then come out
    * of the d3 pigeonhole discipline — 4 × 14-bit chunks, ≥ 1 equal
    * chunk for any qualifying pair (LOSSLESS), so the equality join on
    * (chunk_idx, chunk) generates candidates and the exact bit_count
    * filter decides. Scale shape: the image bytes never shuffle — only
    * (doc_id, 56-bit hash) rows enter the band explode and join, and a
    * hot band takes the same cap-or-salt remedies as d2/d3. The hash
    * side is one zero-shuffle codec pass, exactly how a 100 TB image
    * corpus dedups: hash once near the data, join the tiny hash table.
    */
  private val phashNearDup: Q = (s, d) =>
    // Materialized once per (session, corpus) now that two consumers
    // exist (the registered query and d15's components) — the d2 pair-
    // graph discipline applied to the image pairs.
    graft.core.Materialize.once(s, s"d13_pairs:$d")(computePhashPairs(s, d))

  /** ONE 56-bit Hamming-banded pair join shared by the perceptual-hash
    * dedup family (d13 images, d20 audio): lossless 4 × 14-bit
    * pigeonhole chunks (any ≤ 3 errors leave one chunk intact), id-only
    * candidate shuffle, exact popcount verify at hamming ≤ 3. */
  private def bandedHammingPairs(hashes: DataFrame, hcol: String): DataFrame = {
    val bands: Seq[Column] = (0 until 4).map { j =>
      struct(lit(j).as("chunk_idx"),
        shiftright(col(hcol), j * 14).bitwiseAND(0x3FFFL).as("chunk"))
    }
    val chunked = hashes.select(col("doc_id"), col(hcol),
      explode(array(bands: _*)).as("c"))
      .select(col("doc_id"), col(hcol), col("c.chunk_idx"), col("c.chunk"))
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col(hcol).as("h_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col(hcol).as("h_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(expr("h_a ^ h_b")))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private def computePhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        MultimodalOps.DocPhash(id, MultimodalOps.PhashCodec.phashOf(id))))
      .toDF().cutLineage
    bandedHammingPairs(hashes, "phash")
  }

  /** Audio near-dup (d20) — the dedup × AUDIO cell, the "same recording
    * re-uploaded" detector: 56-bit temporal-energy fingerprints over
    * REALLY decoded PCM ([[MultimodalOps.AudioFpCodec]] — real WAVE
    * encode→decode on executors, the mm codec discipline), matched by
    * the SAME lossless pigeonhole banding as d13. Audio bytes never
    * shuffle — only (doc_id, fingerprint) rows enter the band join. */
  private val audioNearDup: Q = (s, d) => {
    import s.implicits._
    val hashes = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        MultimodalOps.DocAudioFp(id, MultimodalOps.AudioFpCodec.fpOf(id))))
      .toDF().cutLineage
    bandedHammingPairs(hashes, "afp")
  }

  /** d15: canonical-image election over the d13 near-dup clusters — d10's
    * keep-best applied to the image family: connected components over the
    * (materialized) perceptual-hash pairs, then per cluster the keeper is
    * the LARGEST image (pixel area from the real decoded dims — here the
    * closed-form dims the oracle re-derives), ties to the smallest
    * doc_id. Same machinery end to end: the d6/d8 star-contraction
    * components, the d10 top_k_by(…, 1) election (map-side combinable —
    * no per-cluster window sort), O(pairs + docs) beyond the shared pair
    * frame.
    */
  private val phashKeepBest: Q = (s, d) => {
    val comp = connectedComponents(
      phashNearDup(s, d).select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
      Tables.documents(s, d).select(col("doc_id").as("id")))
      .withColumnRenamed("id", "doc_id")
    val g = expr("doc_id div 4")
    val area = ((lit(16) + pmod(g, lit(17))) * (lit(16) + pmod(g, lit(13))))
      .cast("long")
    val best = comp.withColumn("area", area)
      .groupBy(col("cluster_rep"))
      .agg(graft.functions.TopKByLong.top_k_by(col("area"), col("doc_id"), 1)
        .as("top"))
      .select(col("cluster_rep"),
        col("top").getItem(0).getField("id").as("keeper_id"))
    comp.join(best, Seq("cluster_rep"))
      .select(col("doc_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** d16: cross-VIDEO keyframe near-dup — the dedup × video cell (d13's
    * image discipline lifted to frame granularity): every document's
    * synthesized video goes through the REAL animated-GIF sequence
    * round trip ([[MultimodalOps.KeyframeCodec]]), each decoded frame
    * raster reduces to a 56-bit dHash, and frame pairs from DIFFERENT
    * videos at Hamming ≤ 3 come out of the same lossless 4 × 14-bit
    * pigeonhole banding — the "same clip re-uploaded / shared footage"
    * detector a video corpus dedups on. Scale shape identical to d13:
    * video bytes never shuffle (one zero-shuffle codec pass near the
    * data), only (doc_id, frame_idx, hash) rows enter the band explode
    * and equality join; frames-per-video multiplies the tiny hash table,
    * not the corpus scan.
    */
  private val keyframeNearDup: Q = (s, d) => {
    import s.implicits._
    val hashes = Tables.documents(s, d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(MultimodalOps.KeyframeCodec.frameHashesPartition)
      .toDF().cutLineage
    val bands: Seq[Column] = (0 until 4).map { j =>
      struct(lit(j).as("chunk_idx"),
        shiftright(col("phash"), j * 14).bitwiseAND(0x3FFFL).as("chunk"))
    }
    val chunked = hashes.select(col("doc_id"), col("frame_idx"), col("phash"),
      explode(array(bands: _*)).as("c"))
      .select(col("doc_id"), col("frame_idx"), col("phash"),
        col("c.chunk_idx"), col("c.chunk"))
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("frame_idx").as("frame_a"),
      col("phash").as("ph_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_b"), col("frame_idx").as("frame_b"),
      col("phash").as("ph_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "frame_a", "doc_b", "frame_b")
      .withColumn("hamming", bit_count(expr("ph_a ^ ph_b")))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("frame_a"), col("doc_b"), col("frame_b"),
        col("hamming"))
  }

  val queries: Map[String, Q] = Map(
    "d16_keyframe_neardup" -> keyframeNearDup,
    "d11_chunk_dedup" -> chunkDedup,
    "d12_embedding_lsh" -> embeddingLsh,
    "d13_phash_neardup" -> phashNearDup,
    "d14_incremental_minhash" -> incrementalMinhash,
    "d15_phash_keep_best" -> phashKeepBest,
    "d2_minhash_lsh" -> minhashPairs,
    "d3_simhash" -> simhashPairs,
    "d4_ngram_jaccard" -> ngramJaccard,
    "d5_embedding_neardup" -> embeddingNearDup,
    "d6_neardup_components" -> neardupComponents,
    "d7_incremental_dedup" -> incrementalDedup,
    "d8_minhash_components" -> minhashComponents,
    "d9_dup_spans" -> dupSpans,
    "d10_keep_best" -> keepBest,
    "d17_span_scrub" -> spanScrub,
    "d18_cluster_stats" -> clusterStats,
    "d19_lsh_recall_eval" -> lshRecallEval,
    "d20_audio_neardup" -> audioNearDup,
  )

  /** Undirected reachability closure over a `pairs(doc_a, doc_b)` CTE →
    * `comp(doc_id, cluster_rep BIGINT)`, shared by the d8 and d10
    * oracles so the component definition cannot drift between them. */
  private val componentsCtes: String =
    """edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |walk(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, w.r FROM edges e JOIN walk w ON w.id = e.dst
      |),
      |comp AS (SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_rep
      |         FROM walk GROUP BY id)""".stripMargin

  private def gramsSql(t: String) =
    s"list_distinct(list_transform(generate_series(1, len($t)-2), i -> substr($t, CAST(i AS INT), 3)))"

  // ---- DuckDB reproductions of the md5-derived hash family ----

  private val M64 = "18446744073709551616::HUGEINT" // 2^64
  private val Sign64 = "9223372036854775808::HUGEINT" // 2^63

  /** First 64 bits of md5($sv) as an unsigned HUGEINT in [0, 2^64):
    * a hex-digit fold over the first 16 chars of the (lowercase) digest —
    * bit-identical to [[graft.functions.GraftFunctions.md5_64]]'s
    * shift/or recombination. */
  /** md5-64 (unsigned HUGEINT) of a DuckDB string expression — the oracle
    * twin of GraftFunctions.md5_64; package-visible so the KMV oracle
    * (Relational) hashes with the same fold. */
  private[queries] def foldSql(sv: String): String =
    s"list_reduce(list_prepend(0::HUGEINT, " +
      s"list_transform(generate_series(1, 16), " +
      s"hi -> CAST(strpos('0123456789abcdef', substr(md5($sv), CAST(hi AS INT), 1)) - 1 AS HUGEINT))), " +
      s"(acc, x) -> acc * 16 + x)"

  /** Unsigned-HUGEINT → signed BIGINT (two's complement reinterpret). */
  private def signedSql(v: String): String =
    s"CAST(CASE WHEN $v >= $Sign64 THEN $v - $M64 ELSE $v END AS BIGINT)"

  private def unsignedStr(l: Long): String =
    java.lang.Long.toUnsignedString(l) + "::HUGEINT"

  /** Word-3-gram shingle list over token-list column `tv` — mirrors
    * [[shingles]]. */
  private def shinglesSql(tv: String): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len($tv) - 2, 1)), " +
      s"si -> array_to_string(list_slice($tv, si, si + 2), ' ')))"

  /** MinHash signature slot p: min over base hashes of the multiply-shift
    * permutation, compared as SIGNED longs (Spark's array_min over
    * LongType). */
  private def sigSlotSql(p: Int): String = {
    val perm = s"((${unsignedStr(PermA(p))} * hv + ${unsignedStr(PermC(p))}) % $M64)"
    s"list_min(list_transform(hs, hv -> ${signedSql(perm)}))"
  }

  /** One SQL text builder for d2 and d14: the SAME CTE chain and band/
    * jaccard predicates, with d14 adding only the ≥1-batch-endpoint
    * restriction — composing the definitions instead of restating them,
    * so the two oracles cannot drift. */
  private def minhashPairsSql(extraWhere: String): String = {
    val bandCond = (0 until NumBands).map { b =>
      (0 until BandRows).map { r =>
        val i = b * BandRows + r + 1
        s"a.sig[$i] = b.sig[$i]"
      }.mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")
    val jac = "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / " +
      "CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    s"""WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS rtoks FROM documents),
       |sh AS (SELECT doc_id, source, ${shinglesSql("rtoks")} AS shingles FROM t),
       |bh AS (SELECT doc_id, source, shingles, list_transform(shingles, sv -> ${foldSql("sv")}) AS hs FROM sh),
       |sg AS (SELECT doc_id, source, shingles,
       |         [${(0 until NumPerms).map(sigSlotSql).mkString(",\n          ")}] AS sig
       |       FROM bh)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jac AS jaccard
       |FROM sg a JOIN sg b ON a.doc_id < b.doc_id AND $bandCond
       |WHERE $jac >= 0.5$extraWhere""".stripMargin
  }

  private val d2OracleSql: String = minhashPairsSql("")

  private[queries] val d14OracleSql: String = minhashPairsSql(
    s"\n  AND (a.source = '$IncomingSource' OR b.source = '$IncomingSource')")

  private val d3OracleSql: String = {
    // SimHash bit b is set iff 2·(#token-hashes with bit b) − #tokens > 0;
    // pigeonhole banding is LOSSLESS for hamming ≤ 3 (4 chunks, ≤3 flips
    // ⇒ ≥1 equal chunk), so the oracle is simply all pairs at hamming ≤ 3.
    val simhash =
      s"list_reduce(list_prepend(0::HUGEINT, list_transform(generate_series(0, 63), " +
        s"bb -> CASE WHEN 2 * len(list_filter(hs, hv -> ((hv >> CAST(bb AS INT)) & 1::HUGEINT) = 1::HUGEINT)) - len(hs) > 0 " +
        s"THEN (1::HUGEINT << CAST(bb AS INT)) ELSE 0::HUGEINT END)), (acc, x) -> acc + x)"
    s"""WITH t AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS rtoks FROM documents),
       |h AS (SELECT doc_id, list_transform(rtoks, tv -> ${foldSql("tv")}) AS hs FROM t),
       |s AS (SELECT doc_id, ${signedSql(s"($simhash)")} AS simhash FROM h)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  }

  private val d13OracleSql: String = {
    // Closed-form 56-bit dHash of the group/variant pattern at the
    // floor-division sample coordinates (the engine reads the same
    // values back from a REAL PNG encode→decode); pigeonhole banding is
    // LOSSLESS for hamming ≤ 3 (4 × 14-bit chunks), so the oracle is
    // simply all pairs at hamming ≤ 3 over the same hashes.
    """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
      |dim AS (SELECT doc_id, g, v,
      |    CAST(16 + g % 17 AS BIGINT) AS w, CAST(16 + g % 13 AS BIGINT) AS h
      |  FROM d),
      |sv AS (SELECT doc_id, cx.i AS cx, cy.j AS cy,
      |    ((cx.i * w // 8) * 5 + (cy.j * h // 8) * 11 + g * 7
      |     + (cx.i * w // 8) * (cy.j * h // 8) * (3 + g % 7)) % 120
      |    + (CASE WHEN v > 0 AND cx.i * w // 8 = 2 * v * w // 8
      |              AND cy.j * h // 8 = 3 * h // 8
      |       THEN 100 ELSE 0 END) AS s
      |  FROM dim, range(0, 8) cx(i), range(0, 8) cy(j)),
      |hb AS (SELECT a.doc_id,
      |    CAST(sum(CASE WHEN b.s > a.s
      |      THEN 1::BIGINT << CAST(a.cy * 7 + a.cx AS INT) ELSE 0 END)
      |      AS BIGINT) AS phash
      |  FROM sv a JOIN sv b
      |    ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE a.cx < 7
      |  GROUP BY a.doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |FROM hb a JOIN hb b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin
  }

  private val d5PairsSql =
    """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_reduce(list_transform(generate_series(1, len(a.v)),
      |        i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), (x, y) -> x + y)
      |      / (sqrt(list_reduce(list_transform(generate_series(1, len(a.v)),
      |            i -> a.v[CAST(i AS INT)] * a.v[CAST(i AS INT)]), (x, y) -> x + y))
      |         * sqrt(list_reduce(list_transform(generate_series(1, len(b.v)),
      |            i -> b.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), (x, y) -> x + y)))
      |      >= 0.3""".stripMargin

  /** d12 oracle: the engine's hyperplanes are DRIVER-SIDE PLAN LITERALS
    * (Array.tabulate over splitmix64, baked into Column expressions), so
    * the oracle receives the SAME doubles as SQL list literals generated
    * here from the same splitmix64 stream — shortest-repr Double.toString
    * round-trips bit-exactly through DuckDB's correctly-rounded parser.
    * DuckDB then reproduces bit = sign(v·plane), 4-bit band-key packing,
    * the band-bucket self-join, and the exact-cosine verify. The dot
    * folds in ascending index order on both sides (dot_fold == left fold
    * with 0.0 init == list_reduce over a transformed list, the proven d5
    * pattern), so even a near-zero dot's SIGN cannot diverge between
    * engines. dim is pinned to 64 — every fixture SF ships dim-64
    * embeddings; a dim change fails loudly as an oracle mismatch rather
    * than silently gating nothing.
    */
  private lazy val d12OracleSql: String = {
    val dim = 64
    val bands = 16; val rowsPerBand = 4
    val planeRows = (0 until bands * rowsPerBand).map { b =>
      val ws = (0 until dim).map(i =>
        (splitmix64(0xE5113L * (b.toLong * 4099 + i)).toDouble /
          (1L << 63).toDouble).toString).mkString(", ")
      s"($b, [$ws])"
    }.mkString(",\n")
    def dotSql(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, $dim),
         |      i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)]), (x, y) -> x + y)""".stripMargin
    s"""WITH planes(bit, w) AS (VALUES
       |$planeRows),
       |e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |bits AS (SELECT e.vec_id, e.label, p.bit,
       |    CASE WHEN ${dotSql("e.v", "p.w")} >= 0 THEN 1 ELSE 0 END AS bv
       |  FROM e, planes p),
       |sigs AS (SELECT vec_id, label, bit // $rowsPerBand AS band,
       |    CAST(sum(bv * (1 << (bit % $rowsPerBand))) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1, 2, 3),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.label
       |  FROM sigs a JOIN sigs b
       |    ON a.label = b.label AND a.band = b.band AND a.sig = b.sig
       |       AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b, c.label
       |FROM cand c
       |JOIN e ea ON ea.vec_id = c.id_a
       |JOIN e eb ON eb.vec_id = c.id_b
       |WHERE ${dotSql("ea.v", "eb.v")}
       |      / (sqrt(${dotSql("ea.v", "ea.v")})
       |         * sqrt(${dotSql("eb.v", "eb.v")})) >= $D12Threshold""".stripMargin
  }

  lazy val oracle: Map[String, String] = Map(
    "d12_embedding_lsh" -> d12OracleSql,
    // Chunk spans come from the SAME shared CTE chain as the
    // tx_cdc_chunk oracle (TextOps.CdcChunksOracleCtes) — the dedup is a
    // row_number first-occurrence election on the chunk fingerprint.
    "d11_chunk_dedup" ->
      s"""WITH ${TextOps.CdcChunksOracleCtes},
         |f AS (SELECT doc_id, chunk_len,
         |    row_number() OVER (PARTITION BY chunk_hash
         |                       ORDER BY doc_id, chunk_idx) AS rn
         |  FROM cdc_chunks)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN chunk_len ELSE 0 END) AS BIGINT) AS dup_bytes
         |FROM f GROUP BY doc_id""".stripMargin,
    "d2_minhash_lsh" -> d2OracleSql,
    "d3_simhash" -> d3OracleSql,
    "d13_phash_neardup" -> d13OracleSql,
    // Closed-form frame-energy sums of the group/variant pattern (the
    // engine reads the same samples back from a REAL WAVE encode→decode;
    // 8-bit PCM_UNSIGNED round-trips losslessly, proven by
    // mm_decode_wav); banding is lossless at hamming ≤ 3, so the oracle
    // is all pairs over the same fingerprints.
    "d20_audio_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |e AS (SELECT doc_id, f.f AS f,
        |    CAST(sum((o.o * 13 + f.f * 29 + g * 31 + f.f * o.o * (3 + g % 7)) % 200
        |      + CASE WHEN v > 0 AND f.f = 13 * v THEN 40 ELSE 0 END) AS BIGINT) AS en
        |  FROM d, range(0, 57) f(f), range(0, 32) o(o)
        |  GROUP BY doc_id, f.f),
        |hb AS (SELECT a.doc_id,
        |    CAST(coalesce(sum(CASE WHEN b.en > a.en
        |      THEN 1::BIGINT << CAST(a.f AS INT) ELSE 0 END), 0) AS BIGINT) AS afp
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 56
        |  GROUP BY a.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
        |FROM hb a JOIN hb b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin,
    // d13's closed form with a frame axis: group-keyed frame count
    // (2 + g%3), the f·13 term in the base texture, per-(doc, frame)
    // dHash at the same floor-division sample coordinates; banding is
    // lossless for hamming ≤ 3, so the oracle is all cross-video frame
    // pairs at hamming ≤ 3 over the same hashes.
    "d16_keyframe_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |dim AS (SELECT doc_id, g, v,
        |    CAST(16 + g % 17 AS BIGINT) AS w, CAST(16 + g % 13 AS BIGINT) AS h,
        |    CAST(2 + g % 3 AS BIGINT) AS nf
        |  FROM d),
        |fr AS (SELECT dim.*, fz.f FROM dim, range(0, 4) fz(f) WHERE fz.f < nf),
        |sv AS (SELECT doc_id, f, cx.i AS cx, cy.j AS cy,
        |    ((cx.i * w // 8) * 5 + (cy.j * h // 8) * 11 + g * 7 + f * 13
        |     + (cx.i * w // 8) * (cy.j * h // 8) * (3 + g % 7)) % 120
        |    + (CASE WHEN v > 0 AND cx.i * w // 8 = 2 * v * w // 8
        |              AND cy.j * h // 8 = 3 * h // 8
        |       THEN 100 ELSE 0 END) AS s
        |  FROM fr, range(0, 8) cx(i), range(0, 8) cy(j)),
        |hb AS (SELECT a.doc_id, a.f,
        |    CAST(sum(CASE WHEN b.s > a.s
        |      THEN 1::BIGINT << CAST(a.cy * 7 + a.cx AS INT) ELSE 0 END)
        |      AS BIGINT) AS phash
        |  FROM sv a JOIN sv b
        |    ON a.doc_id = b.doc_id AND a.f = b.f
        |      AND b.cy = a.cy AND b.cx = a.cx + 1
        |  WHERE a.cx < 7
        |  GROUP BY a.doc_id, a.f)
        |SELECT a.doc_id AS doc_a, CAST(a.f AS INT) AS frame_a,
        |  b.doc_id AS doc_b, CAST(b.f AS INT) AS frame_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM hb a JOIN hb b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin,
    "d14_incremental_minhash" -> d14OracleSql,
    // d10's keeper election over the d13 pair closure: keeper = largest
    // image area (closed-form dims), ties to min doc_id — the same
    // componentsCtes and list-order election as d8/d10.
    "d15_phash_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($d13OracleSql),
         |$componentsCtes,
         |ar AS (SELECT doc_id,
         |    CAST((16 + (doc_id // 4) % 17) * (16 + (doc_id // 4) % 13)
         |      AS BIGINT) AS area
         |  FROM documents),
         |best AS (SELECT c.cluster_rep,
         |    (list(c.doc_id ORDER BY ar.area DESC, c.doc_id))[1] AS keeper_id
         |  FROM comp c JOIN ar USING (doc_id) GROUP BY 1)
         |SELECT c.doc_id, CAST(b.keeper_id AS BIGINT) AS keeper_id,
         |  c.doc_id = b.keeper_id AS keep
         |FROM comp c JOIN best b USING (cluster_rep)""".stripMargin,
    "d4_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, lang, ${gramsSql("text")} AS grams FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
         |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) >= 0.8""".stripMargin,
    "d5_embedding_neardup" -> d5PairsSql,
    // Connected components as full transitive closure (fine at oracle
    // scale) with min reachable id per node.
    "d6_neardup_components" ->
      s"""WITH RECURSIVE pairs AS ($d5PairsSql),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |walk(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, w.r FROM edges e JOIN walk w ON w.id = e.dst
         |)
         |SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_rep
         |FROM walk GROUP BY id""".stripMargin,
    "d8_minhash_components" ->
      s"""WITH RECURSIVE pairs AS ($d2OracleSql),
         |$componentsCtes
         |SELECT doc_id, cluster_rep FROM comp""".stripMargin,
    // Exact arm: all-pairs shingle Jaccard within lang strata (the same
    // shingle and jac text as d2's oracle); caught arm: the d2 SQL
    // verbatim, strata-filtered. Bucketing floors the shared double.
    "d19_lsh_recall_eval" -> {
      val jac = "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / " +
        "CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
      s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS rtoks FROM documents),
         |sh AS (SELECT doc_id, lang, ${shinglesSql("rtoks")} AS shingles FROM t),
         |ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jac AS jaccard
         |       FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |       WHERE $jac >= 0.5),
         |ca AS (SELECT p.doc_a, p.doc_b, p.jaccard FROM ($d2OracleSql) p
         |       JOIN t ta ON ta.doc_id = p.doc_a
         |       JOIN t tb ON tb.doc_id = p.doc_b
         |       WHERE ta.lang = tb.lang),
         |eb AS (SELECT CAST(least(floor(jaccard * 10), 9) AS INT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
         |cb AS (SELECT CAST(least(floor(jaccard * 10), 9) AS INT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_caught FROM ca GROUP BY 1)
         |SELECT eb.bucket, eb.n_exact,
         |  CAST(coalesce(cb.n_caught, 0) AS BIGINT) AS n_caught,
         |  CAST(floor(coalesce(cb.n_caught, 0) * 1000000 / eb.n_exact) AS BIGINT) AS recall_micro
         |FROM eb LEFT JOIN cb USING (bucket)""".stripMargin
    },
    // Histogram over the d8 component CTEs verbatim — the report cannot
    // drift from the assignment it reports on.
    "d18_cluster_stats" ->
      s"""WITH RECURSIVE pairs AS ($d2OracleSql),
         |$componentsCtes,
         |sz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM comp GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_redundant
         |FROM sz GROUP BY cluster_size""".stripMargin,
    "d10_keep_best" ->
      s"""WITH RECURSIVE pairs AS ($d2OracleSql),
         |$componentsCtes,
         |best AS (SELECT s.cluster_rep,
         |    (list(s.doc_id ORDER BY d.n_chars DESC, s.doc_id))[1] AS keeper_id
         |  FROM comp s JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT c.doc_id, CAST(b.keeper_id AS BIGINT) AS keeper_id,
         |  c.doc_id = b.keeper_id AS keep
         |FROM comp c JOIN best b USING (cluster_rep)""".stripMargin,
    "d9_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |w AS (SELECT doc_id,
         |        md5(array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + ${SpanWindow - 1}), ' ')) AS h
         |      FROM t, unnest(generate_series(1, len(toks) - ${SpanWindow - 1})) AS g(i)
         |      WHERE len(toks) >= $SpanWindow),
         |c AS (SELECT h, count(*) AS cnt FROM w GROUP BY 1)
         |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  CAST(floor(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) * 1000000 / count(*)) AS BIGINT) AS dup_frac_e6
         |FROM w JOIN c USING (h) GROUP BY w.doc_id""".stripMargin,
    // Window/count CTEs mirror d9 token-for-token (same fingerprints, same
    // cnt > 1 gate); the coverage filter and rebuild mirror the engine HOFs.
    "d17_span_scrub" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |w AS (SELECT doc_id, CAST(i AS INT) AS i,
         |        md5(array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + ${SpanWindow - 1}), ' ')) AS h
         |      FROM t, unnest(generate_series(1, len(toks) - ${SpanWindow - 1})) AS g(i)
         |      WHERE len(toks) >= $SpanWindow),
         |c AS (SELECT h, count(*) AS cnt FROM w GROUP BY 1),
         |s AS (SELECT doc_id, list_sort(list(i)) AS starts
         |      FROM w JOIN c USING (h) WHERE c.cnt > 1 GROUP BY doc_id),
         |r AS (SELECT t.doc_id, t.toks, coalesce(s.starts, []) AS st
         |      FROM t LEFT JOIN s USING (doc_id)),
         |k AS (SELECT doc_id, toks,
         |        list_filter(generate_series(1, len(toks)), p ->
         |          len(list_filter(st, s0 -> p >= s0 AND p <= s0 + ${SpanWindow - 1})) = 0) AS kept
         |      FROM r)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
         |  coalesce(array_to_string(list_transform(kept, p -> toks[CAST(p AS INT)]), ' '), '') AS scrubbed
         |FROM k""".stripMargin,
    "d7_incremental_dedup" -> d7OracleSql,
  )

  /** d7's SQL as ONE text — shared with the composed ingest gate
    * (pipe_ingest_gate) so the exact-dup definition exists once per
    * side. */
  private[queries] lazy val d7OracleSql: String =
    """WITH corpus AS (SELECT md5(text) AS h, min(doc_id) AS corpus_dup
      |  FROM documents WHERE source <> 'src19' GROUP BY 1),
      |nw AS (SELECT doc_id, md5(text) AS h,
      |         min(doc_id) OVER (PARTITION BY md5(text)) AS intra_min
      |       FROM documents WHERE source = 'src19')
      |SELECT nw.doc_id,
      |  coalesce(c.corpus_dup,
      |    CASE WHEN nw.intra_min < nw.doc_id THEN nw.intra_min END) AS dup_of,
      |  coalesce(c.corpus_dup,
      |    CASE WHEN nw.intra_min < nw.doc_id THEN nw.intra_min END) IS NOT NULL AS is_dup
      |FROM nw LEFT JOIN corpus c USING (h)""".stripMargin
}
