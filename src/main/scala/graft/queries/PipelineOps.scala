package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Lineage.LineageOps

/** Training-data pipeline operators beyond the dedup/text families:
  * benchmark contamination detection, intra-document repetition scoring
  * (the Gopher-style quality filter), and deterministic sequence packing.
  * Everything is codegen'd built-ins/HOFs — no UDFs — and every query has
  * an exact DuckDB oracle.
  */
object PipelineOps {
  type Q = (SparkSession, String) => DataFrame

  /** Explicit whitespace class — Java `\s` ⊃ RE2 `\s` (U+000B); spelled
    * out so Spark and DuckDB tokenize byte-identically. */
  private val Ws = "[ \\t\\n\\x0B\\f\\r]"

  private def toks(text: Column): Column = split(trim(text), Ws + "+")

  /** Word n-grams as a per-row HOF chain (split → sliding slice →
    * concat). Docs shorter than n yield one gram: the whole doc. The
    * construction is mirrored token-for-token in the oracle SQL. Public:
    * the streaming contamination surface (DocStreaming) reuses it. */
  def wordGrams(text: Column, n: Int): Column = {
    val t = toks(text)
    transform(
      sequence(lit(1), greatest(size(t) - lit(n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
  }

  /** The n-gram width for contamination checks: long enough (8 words)
    * that cross-document collisions mean real shared passages. */
  val ContamGramWidth = 8

  /** The held-out "benchmark" slice of the corpus: one source. In a real
    * pipeline this is the eval benchmark's text, which is always tiny
    * relative to the training corpus — hence the broadcast below. */
  val BenchmarkSource = "src0"

  /** Benchmark contamination detection — for every candidate document,
    * how many of its distinct word-8-grams also appear anywhere in the
    * benchmark set, and the contaminated fraction. This is the standard
    * pre-training decontamination pass (strip eval-set passages from the
    * training corpus).
    *
    * Scale shape: the benchmark gram set is distinct-collapsed and
    * BROADCAST (a benchmark is KBs–MBs even when the corpus is 100 TB),
    * so candidate grams never shuffle — the hit count is a map-side
    * broadcast-hash semi join followed by one groupBy on doc_id, and the
    * left join back to per-doc totals is doc_id-to-doc_id.
    */
  /** The distinct benchmark gram set — ONE derivation shared by the batch
    * query and the streaming twin (DocStreaming), so the parity the spec
    * asserts can't drift apart. */
  def benchGramsOf(docs: DataFrame): DataFrame =
    docs.where(col("source") === BenchmarkSource)
      .select(explode(array_distinct(
        wordGrams(col("text"), ContamGramWidth))).as("gr"))
      .distinct()

  def contaminationOf(docs: DataFrame): DataFrame = {
    val withG = docs.select(
      col("doc_id"), col("source"),
      array_distinct(wordGrams(col("text"), ContamGramWidth)).as("grams"))
    val bench = benchGramsOf(docs)
    val cand = withG.where(col("source") =!= BenchmarkSource)
    val hits = cand.select(col("doc_id"), explode(col("grams")).as("gr"))
      .join(broadcast(bench), Seq("gr"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    cand.select(col("doc_id"), col("source"), size(col("grams")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_grams").cast("double"))
  }

  private val contamination: Q = (s, d) =>
    contaminationOf(Tables.documents(s, d))

  /** Intra-document repetition scoring (the Gopher repetition filters):
    * duplicate-2-gram and duplicate-3-gram fractions plus the most
    * frequent token's share. Entirely per-row HOF arithmetic — zero
    * shuffles, embarrassingly parallel at any scale. The top-token scan
    * is O(distinct·len) per row, which is the right trade below ~10k
    * tokens/doc; beyond that a sort-based per-row count would win.
    */
  def repetitionOf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    def dupFrac(g: Column): Column =
      (size(g) - size(array_distinct(g))).cast("double") /
        size(g).cast("double")
    val topCnt = array_max(transform(array_distinct(t),
      tk => size(filter(t, x => x === tk))))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      dupFrac(wordGrams(col("text"), 2)).as("dup2_frac"),
      dupFrac(wordGrams(col("text"), 3)).as("dup3_frac"),
      (topCnt.cast("double") / size(t).cast("double")).as("top_tok_frac"))
  }

  private val repetition: Q = (s, d) =>
    repetitionOf(Tables.documents(s, d))

  /** Token budget per packed chunk (a short training-sequence length). */
  val ChunkTokens = 256

  /** Number of independent packing shards per language. */
  val PackShards = 16

  /** Deterministic sequence packing — the "concat the corpus and cut it
    * into fixed-token windows" step before training. Documents are laid
    * end-to-end in doc_id order within a (lang, shard) stream; each doc
    * gets the chunk its first token falls in plus its offset there.
    *
    * Scale shape: a single global ordering would serialize into one task,
    * so the stream key is (lang, doc_id % 16) — `PackShards` independent
    * streams per language, each a parallel window partition. At 100 TB
    * you raise PackShards to O(cluster cores); determinism is unaffected
    * because the shard assignment is a pure function of doc_id.
    */
  private val pack: Q = (s, d) => {
    val nTok = when(trim(col("text")) === "", 0)
      .otherwise(size(toks(col("text"))))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(PackShards)).as("shard"),
        nTok.as("n_tokens"))
      .withColumn("start_off",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"start_off div $ChunkTokens"))
      .withColumn("chunk_off", col("start_off") % ChunkTokens)
  }

  /** Documents per padded batch in [[lengthBatching]]. */
  val BatchDocs = 8

  /** Length-sorted micro-batching with padding-waste accounting — the
    * PADDED-batch regime's companion to [[pack]]'s packed regime (packing
    * concatenates for pre-training; fine-tuning/inference pad each batch
    * to its longest member, so batch composition IS the cost). Within
    * each (lang, shard) stream, documents are sorted by (token count
    * DESCENDING, doc_id) — descending so the one partial batch takes the
    * SHORTEST docs (ascending hands it the longest, which can pad WORSE
    * than unsorted) — and cut into [[BatchDocs]]-doc batches; each batch
    * reports
    * its doc count, max/sum token counts, and pad_tokens =
    * n_docs·max − sum — and, joined by batch index, the pad cost the
    * SAME stream pays when batched in naive doc_id order. The delta is
    * the measured win of length bucketing, all exact integers.
    *
    * Scale shape: the [[PackShards]] discipline again — per-(lang,
    * shard) window partitions are independent and parallel, no global
    * sort exists, and raising the shard count is the 100 TB lever. Two
    * windows over the same token-counted frame, one join on the batch
    * axis (batches ≪ docs).
    */
  /** The batching core over a (doc_id, lang, shard, n_tokens) frame —
    * public so HighVolumeSpec can drive the same windows at millions of
    * docs with a raised shard count. */
  def lengthBatchesOf(t: DataFrame): DataFrame = {
    def batches(order: Seq[Column]): DataFrame = {
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(order: _*)
      t.withColumn("rn0", row_number().over(w) - lit(1))
        .withColumn("batch_idx", expr(s"rn0 div $BatchDocs").cast("int"))
        .groupBy(col("lang"), col("shard"), col("batch_idx"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("sum_tokens"))
    }
    val byLen = batches(Seq(col("n_tokens").desc, col("doc_id")))
      .select(col("lang"), col("shard"), col("batch_idx"), col("n_docs"),
        col("max_tokens"), col("sum_tokens"),
        (col("n_docs") * col("max_tokens") - col("sum_tokens"))
          .as("pad_tokens"))
    val naive = batches(Seq(col("doc_id")))
      .select(col("lang"), col("shard"), col("batch_idx"),
        (col("n_docs") * col("max_tokens") - col("sum_tokens"))
          .as("pad_naive_tokens"))
    byLen.join(naive, Seq("lang", "shard", "batch_idx"))
  }

  private val lengthBatching: Q = (s, d) => {
    val nTok = when(trim(col("text")) === "", 0)
      .otherwise(size(toks(col("text"))))
    lengthBatchesOf(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(PackShards)).as("shard"),
        nTok.cast("long").as("n_tokens")))
  }

  /** Per-source sampling rates out of 256 — the "data mixing" weights a
    * pre-training corpus assigns per provenance (upsample curated
    * sources, downsample scrapes). */
  val MixWeights: Seq[(String, Int)] = Seq(
    "src1" -> 256, "src2" -> 192, "src3" -> 64)
  val DefaultMixWeight = 128

  /** Deterministic stratified sampling by data-mixing weight: a document
    * survives iff its hash bucket (first md5 byte of "doc_id#text" —
    * DELIBERATELY a different key separator than tx_split's
    * "doc_id:text", so the sampling and split buckets are independent;
    * sharing the hash would correlate them and e.g. funnel every rate-64
    * survivor into 'train') falls under its source's rate. Pure per-row
    * predicate — no windows, no shuffles, stable under data growth;
    * exactly the tx_split scale argument.
    */
  private val sampleMix: Q = (s, d) => {
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("#"), col("text"))), 1, 2), 16, 10).cast("int")
    val rate = MixWeights.foldRight(lit(DefaultMixWeight): Column) {
      case ((src, w), acc) => when(col("source") === src, w).otherwise(acc)
    }
    Tables.documents(s, d)
      .withColumn("bucket", bucket).withColumn("rate", rate)
      .where(col("bucket") < col("rate"))
      .select(col("doc_id"), col("source"), col("rate"))
  }

  /** Deterministic training-shard assignment + mixing report — the LAST
    * pipeline stage before training: a trained model wants its data as N
    * well-MIXED shards (no source or time locality — a shard of
    * consecutive same-source docs skews every gradient step that reads
    * it). Assignment is content-independent md5 arithmetic on the doc id
    * (shard = first hex nibble of md5('shard:'||id) — the nibble IS the
    * shard count, 16; a real run widens to more hex digits for
    * thousands of shards; intra-shard order =
    * md5('pos:'||id) — a deterministic global permutation, so the shard
    * FILES are byte-reproducible regardless of cluster parallelism:
    * repartition(shard) + sortWithinPartitions(pos_key) at write time).
    * The report grades the mix per shard: doc/token mass, distinct
    * sources, the max single-source share (the mixing failure signal),
    * and the deterministically-first doc.
    *
    * Scale shape: one map-side-combinable (shard, source) count
    * aggregate (output |shards|·|sources| rows) + one per-shard
    * aggregate — the corpus is scanned once and only counts shuffle; the
    * write path itself is THE one unavoidable repartition of a training
    * run. Integer-exact; the share uses d9's floor-micro form. */
  /** The write-time key pair of [[shardShuffle]], shared with the
    * high-volume reproducibility test: shard = first md5 hex nibble,
    * intra-shard order = a second md5 key — both pure functions of the
    * id, so shard contents and order are independent of parallelism. */
  def shardNibble(id: Column): Column =
    conv(substring(md5(concat(lit("shard:"), id.cast("string"))), 1, 1),
      16, 10).cast("int")
  def shardPosKey(id: Column): Column =
    md5(concat(lit("pos:"), id.cast("string")))

  private val shardShuffle: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        shardNibble(col("doc_id")).as("shard"),
        shardPosKey(col("doc_id")).as("pos_key"))
    val bySrc = base.groupBy("shard", "source").agg(count(lit(1)).as("c"))
    val srcStats = bySrc.groupBy("shard")
      .agg(count(lit(1)).as("n_sources"), max(col("c")).as("max_c"))
    val main = base.groupBy("shard").agg(
      count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
      min(struct(col("pos_key"), col("doc_id"))).as("first"))
    main.join(srcStats, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_tok"), col("n_sources"),
        floor(col("max_c") * lit(1000000L) / col("n_docs")).cast("long")
          .as("max_source_share_micro"),
        col("first").getField("doc_id").as("first_doc"))
  }

  /** Total document budget of [[temperatureMix]] — a query constant (at
    * a real 100 TB curation run this is the target corpus size). */
  val TempMixBudget = 100

  /** Temperature-based source mixing — the data-curation upgrade of
    * [[sampleMix]]'s fixed per-source rates: per-source sampling weight
    * ∝ count^α with α = 0.5, which UP-weights small sources relative to
    * proportional sampling (the multilingual/low-resource mixing rule;
    * α ∈ [0.3, 0.7] in practice — 0.5 is the one α whose weight has an
    * exact integer form, ⌊√c⌋, keeping the whole quota pipeline in the
    * ev_attribution integer-cents discipline).
    *
    * Everything is integer-exact: the integer square root self-corrects
    * float sqrt's boundary rounding ((w+1)² ≤ c / w² > c adjustments,
    * exact because √int64 fits double's 53-bit mantissa within ±1);
    * quotas use largest-remainder (Hamilton) apportionment — base =
    * ⌊N·w/W⌋, the N − Σbase deficit goes to the largest remainders
    * (ties to source name) — so Σ quota == N EXACTLY (the conservation
    * property spec). Selection inside each source is the deterministic
    * md5-order sample: keep the quota smallest (hash, doc_id) rows.
    *
    * Scale shape: the per-source count is one map-side-combinable
    * aggregate; the quota math runs on the SOURCES-sized frame (global
    * windows over bounded metadata — the IVF-cells argument). The
    * per-source selection window sorts each source's partition; at
    * 100 TB with a hot source the remedy is the standard threshold
    * form — the quota-th smallest hash per source from a distributed
    * quantile (the KLL family), then a map-side hash < threshold
    * filter — same selection, no single-partition sort.
    */
  /** The integer-exact quota pipeline over a `(source, c)` counts frame:
    * ⌊√c⌋ weights (self-correcting), Hamilton largest-remainder
    * apportionment of `n`. Public for the conservation property spec. */
  def temperatureQuotas(counts: DataFrame, n: Long): DataFrame = {
    val w0 = floor(sqrt(col("c").cast("double"))).cast("long")
    val weights = counts.select(col("source"),
      (w0 + when((w0 + 1) * (w0 + 1) <= col("c"), 1L).otherwise(0L)
          - when(w0 * w0 > col("c"), 1L).otherwise(0L)).as("wgt"))
    // Constant partition spec: the frame is the |sources| row set,
    // bounded by construction — the explicit spec keeps the WindowExec
    // single-partition warning out of the log (the EventOps discipline).
    val all = Window.partitionBy(lit(1))
    // `div`, not `/`: Column./ is DOUBLE division; the quota must be the
    // exact integer floor.
    val q0 = weights.select(col("source"), col("wgt"),
        (lit(n) * col("wgt")).as("n1"),
        sum(col("wgt")).over(all).as("wsum"))
      .select(col("source"), col("wgt"),
        expr("n1 div wsum").as("base"), expr("n1 % wsum").as("rem"))
    q0.select(col("source"),
      (col("base") + when(
        row_number().over(Window.partitionBy(lit(1))
            .orderBy(col("rem").desc, col("source")))
          <= lit(n) - sum(col("base")).over(all), 1L).otherwise(0L))
        .as("quota"))
  }

  private val temperatureMix: Q = (s, d) => {
    val quotas = temperatureQuotas(
      Tables.documents(s, d).groupBy(col("source")).agg(count(lit(1)).as("c")),
      TempMixBudget.toLong)
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit("~"), col("text")))
          .as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(quotas), Seq("source"))
      .where(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("quota"))
  }

  /** End-to-end corpus cleaning — the composed pipeline (quality gate →
    * exact dedup keep-min → split assignment) built from the standalone
    * operators' exact column expressions. Execution is TWO stages by
    * design: one scoring pass materializes a few scalar columns per doc
    * behind a lineage cut (see below for why the fence is load-bearing),
    * then the filter + dedup + semi join + split run as one fused plan
    * over those scalars.
    */
  private val cleanCorpus: Q = (s, d) =>
    cleanedDocs(s, d).select(col("doc_id"), col("lang"), col("split"))

  /** The clean→dedup→split stage OUTPUT (doc_id, lang, split, n_tok),
    * MATERIALIZED once per (session, corpus): pipe_clean_corpus and
    * pipe_corpus_release consume the same artifact — the release reads
    * it as a parquet scan instead of re-running the scoring pass (the
    * d2-pair-graph discipline applied to the pipeline's own stages). */
  def cleanedDocs(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.once(s, s"pipe_cleaned:$d") { cleanedDocsCompute(s, d) }

  /** The per-doc SCORING pass (gate metrics + hashes), MATERIALIZED once
    * per (session, corpus): the clean pipeline's first stage and the
    * pipe_drop_reasons attribution query read the same artifact, so the
    * corpus-wide text pass runs once no matter which face asks. */
  def scoredDocs(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.once(s, s"pipe_scored:$d")(scoredCompute(s, d))

  private def scoredCompute(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    // Gate metrics + hashes computed ONCE, with the expensive subtrees
    // (split, gram transform) STAGED through intermediate columns so each
    // evaluates once per row — inlined into a single Filter condition the
    // HOF lambdas leave codegen and every repeated subtree re-evaluates
    // (measured ~25× slower at sf0.1). CollapseProject keeps the stages
    // apart (multi-referenced non-cheap aliases are not inlined), and the
    // materialized artifact fences filter pushdown from substituting the
    // expressions back into the scan; text is dropped so the
    // materialized frame is a few scalar columns.
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"), t.as("__toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("__toks")).as("n_tok"),
        transform(
          sequence(lit(1), greatest(size(col("__toks")) - 1, lit(1))),
          i => concat_ws(" ", slice(col("__toks"), i, lit(2)))).as("__g2"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        ((size(col("__g2")) - size(array_distinct(col("__g2")))).cast("double") /
          size(col("__g2")).cast("double")).as("dup2"),
        md5(col("text")).as("h"),
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), col("text"))), 1, 2), 16, 10).cast("int").as("b"))
  }

  private def cleanedDocsCompute(s: SparkSession, d: String): DataFrame = {
    val scored = scoredDocs(s, d)
    val clean = scored.where(col("n_tok") >= 20 && col("dup2") < 0.05)
    val keep = clean.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    clean.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"),
        when(col("b") < 205, "train").when(col("b") < 230, "valid")
          .otherwise(lit("test")).as("split"),
        col("n_tok").cast("long").as("n_tok"))
  }

  /** End-to-end corpus RELEASE — the stages a real release runs, composed
    * on one session: clean → dedup → split ([[cleanedDocs]]), cross-split
    * leakage repair (drop the higher doc_id of every d2 near-dup pair
    * that straddles splits — every leaked pair loses an endpoint), and
    * the dataset card of what ships: per (split, lang) doc/token counts
    * plus how many docs the leakage repair removed from that cell.
    *
    * The composition is the Materialize.once discipline made load-
    * bearing: both upstream artifacts (the cleaned frame, the d2 pair
    * graph) are session-materialized parquet, so the release plan
    * contains NO scan of the corpus itself — only the two stage
    * artifacts (the no-rescan spec pins this). That is how a 100 TB
    * release behaves: each stage writes its output once; the release
    * step is O(pairs + cleaned) over stage outputs, never a corpus
    * re-read. Definitions cannot drift: the splits come from the same
    * cleaned frame pipe_clean_corpus serves, the pairs from the same
    * frame d2/d8/pipe_split_leakage serve, and the oracle composes the
    * same stage CTE texts.
    */
  private val corpusRelease: Q = (s, d) => {
    val cleaned = cleanedDocs(s, d)
    val sp = cleaned.select(col("doc_id"), col("split"))
    val dropIds = DedupOps.queries("d2_minhash_lsh")(s, d)
      .select(col("doc_a"), col("doc_b"))
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("doc_id"))
      .distinct()
    val released = cleaned.join(dropIds, Seq("doc_id"), "left_anti")
    val drops = cleaned.join(dropIds, Seq("doc_id"), "left_semi")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_leak_dropped"))
    released.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .join(drops, Seq("split", "lang"), "left")
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_leak_dropped"), lit(0L)).as("n_leak_dropped"))
  }

  /** Corpus vocabulary top-k: the 50 most frequent tokens with counts and
    * corpus share — the vocab/Zipf profile run before tokenizer training.
    * explode → hash-groupBy (map-side partial combine collapses each
    * split to its distinct tokens) → TakeOrderedAndProject top-k with a
    * deterministic (count desc, token) tie-break — never a global sort.
    */
  private val vocabTopK: Q = (s, d) => {
    val grouped = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // Corpus total = Σ per-token counts, derived from the (tiny) grouped
    // frame via a broadcast cross join — ONE tokenization pass and no
    // eager action at query-construction time (a separate count() would
    // scan and explode the whole corpus twice).
    val total = grouped.agg(sum(col("n")).as("__total"))
    grouped.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("__total").cast("double"))
      .drop("__total")
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  /** Token width of a boilerplate chunk and the cross-document frequency
    * at which a chunk counts as boilerplate. */
  val BoilerChunkWidth = 8
  val BoilerDocFreq = 2

  /** Corpus-level boilerplate removal — the RefinedWeb/CCNet "drop lines
    * that repeat across documents" pass, on this corpus' newline-free
    * text applied to non-overlapping [[BoilerChunkWidth]]-token chunks.
    * Every document is cut into chunks; a chunk appearing in ≥
    * [[BoilerDocFreq]] DISTINCT documents (headers, footers, full
    * duplicates) is boilerplate, and each doc is re-assembled from its
    * surviving chunks in position order.
    *
    * Scale shape: chunk document-frequency is one hash-groupBy with
    * map-side partial aggregation; the removal is an anti join on the
    * chunk value (the boilerplate side is the df-filtered minority, so
    * AQE broadcasts it when small); the reassembly groups by doc_id with
    * a position-sorted fold — never a global sort, never a self-join of
    * the corpus.
    */
  def lineDedupOf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val nChunks = floor((size(t) - lit(1)) / lit(BoilerChunkWidth)).cast("int")
    val chunks = transform(
      sequence(lit(0), nChunks),
      i => concat_ws(" ", slice(t, i * lit(BoilerChunkWidth) + lit(1),
        lit(BoilerChunkWidth))))
    val ex = docs
      .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
    val boiler = ex.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= lit(BoilerDocFreq)).select("chunk")
    val kept = ex.join(boiler, Seq("chunk"), "left_anti")
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("chunk")))),
        x => x.getField("chunk")))).as("cleaned_hash"))
    // Chunk totals come straight from the token count (nChunks+1 per
    // row) — NOT from re-aggregating `ex`, which would tokenize and
    // explode the whole corpus a third time for a number the row already
    // knows.
    docs.select(col("doc_id"), (nChunks + lit(1)).cast("long").as("n_chunks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_hash"), md5(lit(""))).as("cleaned_hash"))
  }

  private val lineDedup: Q = (s, d) => lineDedupOf(Tables.documents(s, d))

  /** Per-document keyword extraction: the top-3 "most frequent, least
    * common" tokens — ranked by term frequency desc, then corpus
    * document-frequency asc (rarer wins the tie), then token. All
    *-integer ordering: deterministic across engines, no FP tf-idf.
    *
    * Scale shape: tf is one (doc, token) hash-groupBy; df derives from
    * tf (already distinct per doc) by a second groupBy; the join back is
    * token-keyed (vocabulary ≪ corpus, Zipf-bounded); the final top-3 is
    * a rank-filter window that lowers to per-key group limits — no
    * global sort anywhere.
    */
  def keywordsOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df"), col("token"))
    tf.join(df, Seq("token"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rank"))
  }

  private val keywords: Q = (s, d) => keywordsOf(Tables.documents(s, d))

  /** Rarity cutoff for [[lmScoreOf]]: a token is rare when its corpus
    * share is under 1/[[RareDenom]]. */
  val RareDenom = 100

  /** Unigram-LM commonness scoring — the integer-exact core of the
    * "perplexity filter" every pre-training pipeline runs: score each
    * document by how common its tokens are corpus-wide. Instead of
    * cross-engine-fragile log-prob sums, the per-doc aggregates are the
    * exact integer unigram-count sum and the count of rare tokens
    * (corpus share < 1/[[RareDenom]], an integer cross-multiplication);
    * the single mean-commonness double derives from identical integers
    * on both engines.
    *
    * Scale shape: unigram counts are one hash-groupBy; the token→count
    * join is vocabulary-keyed (Zipf-bounded, broadcastable when the
    * vocab fits — left to AQE); the corpus total rides a 1-row broadcast
    * cross join, and the per-doc fold is one more hash aggregate.
    */
  def lmScoreOf(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val counts = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    tokens.join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("common_sum"),
        sum(when(col("cnt") * lit(RareDenom) < col("__total"), 1L)
          .otherwise(0L)).as("rare_cnt"))
      .withColumn("mean_commonness",
        col("common_sum").cast("double") / col("n_tokens").cast("double"))
  }

  private val lmScore: Q = (s, d) => lmScoreOf(Tables.documents(s, d))

  /** Bigram language-model scoring — the CCNet-class perplexity-proxy
    * quality signal tx_lm_score's unigram commonness approximates: train
    * an add-1-smoothed bigram LM ON the corpus itself (the standard
    * self-scoring pass: boilerplate and fluent text score high, gibberish
    * and OCR noise low) and score every document. p(w2|w1) =
    * (c(w1 w2)+1)/(c(w1·)+V), with c(w1·) the bigram-prefix count and V
    * the distinct-token vocabulary.
    *
    * Cross-engine float discipline: each occurrence's ln p MICRO-ROUNDS
    * to an integer immediately (one transcendental per term, the
    * accepted bm25 1-ulp risk), so the per-doc total is an ORDER-FREE
    * integer sum — partial aggregation is exact and no float-sum order
    * can move the result (the drift-psi/classifier discipline). Scale
    * shape: the model IS two hash aggregates (bigram counts + prefix
    * counts, both Zipf-bounded vocabulary tables), scoring is one join
    * per table keyed on the gram — only (doc_id, gram) pairs shuffle,
    * text never does. */
  private val bigramLm: Q = (s, d) => bigramLmOf(Tables.documents(s, d))

  def bigramLmOf(docs: DataFrame): DataFrame = {
    // Docs with <2 tokens have NO bigrams → absent row (not a degenerate
    // one-token "bigram" score): wordGrams' greatest(n-1,1) floor would
    // otherwise emit the lone token (or '' for blank docs) as a gram.
    // The vocabulary scalar v stays corpus-wide (all docs).
    //
    // ONE corpus bigram pass: aggregate occurrences to (doc, bigram,
    // occ) first, then every model table derives from that (and from
    // each other) at VOCABULARY size — c12 = Σ occ per bigram, and the
    // prefix count c1 = Σ c12 over bigrams sharing w1, exactly the
    // occurrence count the old per-occurrence aggregate produced. The
    // previous shape re-ran the corpus explode for c12, for c1 and for
    // the scoring join (3 corpus passes + the vocab scan; guide §2.3:
    // aggregate before you shuffle). Scores are unchanged: same integer
    // counts into the same micro-rounded term, and the per-doc total
    // Σ occ·term is the same order-free integer sum.
    //
    // Both cuts are LAZY (round-12 verdict "What's wrong #1": the two
    // eager cuts here were full materialization jobs that cost more at
    // bench SF than the corpus passes they saved): the query's own final
    // action computes every partition of both frames — dgc through the
    // c12 aggregate and the scoring join, c12 through c1 and the score
    // table — so the blocks persist as a side effect of the one job that
    // already runs (guide §2.4; the BPE cutLazy mechanism).
    val dgc = graft.core.Lineage.cutLazy(
      docs.where(size(toks(col("text"))) >= 2)
        .select(col("doc_id"), explode(wordGrams(col("text"), 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("occ")))
    val c12 = graft.core.Lineage.cutLazy(
      dgc.groupBy("bg").agg(sum(col("occ")).as("c12"))
        .withColumn("w1", split(col("bg"), " ").getItem(0)))
      // vocabulary-sized; read twice (c1 + the score table)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    // One corpus scalar (the bm25 nDocs budget class).
    val v = docs.select(explode(toks(col("text"))).as("tok"))
      .agg(countDistinct(col("tok"))).head.getLong(0)
    val term = round(log(
      (col("c12").cast("double") + 1.0d) /
        (col("c1").cast("double") + lit(v.toDouble))) * 1e6).cast("long")
    val gramTerm = c12.join(c1, Seq("w1"))
      .select(col("bg"), term.as("term_micro"))
    dgc.join(gramTerm, Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_bigrams"),
        sum(col("occ") * col("term_micro")).as("logp_total_micro"))
      .withColumn("avg_logp_micro",
        floor(col("logp_total_micro").cast("double") / col("n_bigrams"))
          .cast("long"))
  }

  /** BM25 search terms + parameters (Robertson/Sparck Jones k1/b
    * defaults; Lucene's +1 idf smoothing). Shared with the oracle and
    * the ranked output size. */
  val Bm25Terms: Seq[String] = Seq("spark", "table", "query")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** BM25 ranked retrieval over the corpus — the classic inverted-index
    * scoring, expressed as two hash aggregates and a vocabulary-keyed
    * join: tf per (doc, term) and df per term ARE the inverted index's
    * postings statistics, built by groupBy rather than an index file. At
    * 100 TB the term-filtered explode means only query-term postings
    * shuffle, df is |terms| rows (broadcast), and the final top-k is
    * TakeOrdered — no global sort.
    *
    * Cross-engine float discipline: the only transcendental is `ln`
    * (idf), whose libm can differ from DuckDB's by 1 ulp (measured: 1 of
    * 1100 probed inputs) — so the comparable output is the MICRO-ROUNDED
    * integer score, the per-term partials fold in a FIXED literal order
    * (no order-nondeterministic float sum()), and the ranking orders by
    * the rounded integer so a sub-micro ulp can never flip a rank. */
  /** The ranking is session-MATERIALIZED: tx_bm25 and ann_hybrid_rrf's
    * lexical arm read the same artifact, so the postings aggregation
    * runs once no matter which face asks. */
  private val bm25: Q = (s, d) =>
    graft.core.Materialize.once(s, s"bm25:$d") { bm25Compute(s, d) }

  private[graft] def bm25Compute(s: SparkSession, d: String): DataFrame = {
    import graft.core.Lineage.LineageOps
    val docs = Tables.documents(s, d)
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .where(col("w") =!= "")
    // ONE corpus tokenize pass: a wide per-doc aggregate carries dl plus
    // one tf column per query term (the term list is a small literal).
    // The previous shape re-ran the explode for each of the stats, tf,
    // df and dl subplans — four corpus passes for one ranking (guide
    // §2.3: aggregate before you shuffle; §1.2: fix the pass count
    // first). Values are unchanged: the same counts feed the same
    // float formulas in the same fixed term order.
    val perDoc = tokens.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), Bm25Terms.map(t =>
        count(when(col("w") === t, 1)).as(s"tf_$t")): _*)
      .cutLineage
    // Corpus scalars (1 row): doc count, token total, per-term doc
    // frequencies — bounded metadata, same budget class as a broadcast.
    val st = perDoc.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("t") +: Bm25Terms.map(t =>
        count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t")): _*).head
    val nDocs = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nDocs.toDouble
    // idf per term on the driver — identical arithmetic to the previous
    // executor-side expression (same operation order, same Math.log).
    val idfT = Bm25Terms.zipWithIndex.map { case (t, i) =>
      val dfT = st.getLong(2 + i).toDouble
      t -> math.log((nDocs.toDouble - dfT + 0.5) / (dfT + 0.5) + 1.0)
    }.toMap
    def sat(t: String) = {
      val tfD = col(s"tf_$t").cast("double")
      (tfD * (Bm25K1 + 1.0)) /
        (tfD + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * col("dl").cast("double") / avgdl))
    }
    // Fixed-order fold over the per-term partials: float + is not
    // associative, so a sum() whose arrival order varies would not be
    // value-stable; term1 + term2 + term3 in literal order is. A term
    // absent from a doc contributes idf·sat(0) = 0.0 exactly — the same
    // 0.0 the old coalesce supplied.
    val score = Bm25Terms.map(t => lit(idfT(t)) * sat(t)).reduceLeft(_ + _)
    perDoc
      // Only docs containing ≥1 query term are ranked (the old tf join
      // had rows only for those docs).
      .where(Bm25Terms.map(t => col(s"tf_$t") > 0).reduceLeft(_ || _))
      .select(col("doc_id"), round(score * 1e6).cast("long").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"), col("score_micro"))
  }

  /** Reciprocal-rank-fusion constant (the canonical k=60 from Cormack,
    * Clarke & Büttner 2009) and the fused output size. Shared with the
    * oracle. */
  val RrfK = 60
  val HybridTopK = 10

  /** Hybrid retrieval — the RAG-serving shape: a LEXICAL arm (the BM25
    * ranking, verbatim [[bm25]]) and a VECTOR arm (exact cosine top-k
    * for the query embedding, the ann_brute discipline with vec_id ≡
    * doc_id) fused by reciprocal-rank fusion:
    * score(d) = Σ_arms 1/(k + rank_arm(d)), k = [[RrfK]]. RRF is the
    * production fusion precisely because it needs NO score calibration
    * across arms — only ranks enter, so a BM25 log-scale score and a
    * [-1,1] cosine fuse without normalization.
    *
    * Cross-engine discipline: each reciprocal is the exact INTEGER
    * division 1e9 div (k + rank) (DuckDB `//`) — no float anywhere in
    * fusion, so the fused ordering is bit-reproducible; the arm ranks
    * themselves are already gated (micro-rounded BM25; the proven
    * exact-cosine ordering). Scale shape: each arm ends as a bounded
    * k-row ranking (BM25's term-filtered postings aggregate;
    * TakeOrdered on one corpus scan — at 100 TB the vector arm swaps
    * for the IVF adaptive serve, same contract), and fusion is a full
    * outer join of two ≤k-row frames — driver-bounded, effectively
    * free. Missing-arm docs contribute 0 from that arm, the standard
    * RRF convention. */
  private val hybridRrf: Q = (s, d) => {
    val lex = bm25(s, d).select(col("doc_id"), col("rank").as("lex_rank"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        SimilarityOps.vDouble(col("embedding")).as("v"))
    val q = e.where(col("doc_id") === 0).select(col("v").as("qv"))
    val vec = e.where(col("doc_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine", SimilarityOps.cosineCol(col("v"), col("qv")))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(Bm25TopK)
      // Constant partition spec: the frame is the ≤k-row shortlist the
      // limit already selected — explicit spec, no WindowExec warning.
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("cosine").desc, col("doc_id"))))
      .select(col("doc_id"), col("vec_rank"))
    val fused = lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (coalesce(expr(s"1000000000L div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000L div ($RrfK + vec_rank)"), lit(0L)))
          .as("rrf_nano"))
    fused.orderBy(col("rrf_nano").desc, col("doc_id")).limit(HybridTopK)
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rrf_nano").desc, col("doc_id"))))
      .select(col("doc_id"), col("fused_rank"), col("rrf_nano"),
        col("lex_rank"), col("vec_rank"))
  }

  /** Cosine threshold above which two same-cluster vectors are semantic
    * duplicates — matches d5's corpus-calibrated near-dup threshold. */
  val SemDedupTau = 0.3

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster
    * the embedding space, then within each cluster flag every vector
    * whose cosine to a LOWER-id member is ≥ τ (the kept member is the
    * min id, as in d5/d7). Where `d5_embedding_neardup` blocks pairs on
    * a GIVEN label, this derives the blocking key by clustering — the
    * standard curation step when no label exists. Pair generation is
    * per-cluster (n/k per block by construction, the whole point of the
    * algorithm); a pathological giant cluster would take d5's tile-pair
    * treatment, and the means/assignment scale notes live on
    * [[SimilarityOps.kmeansAssign]]. End-to-end deterministic, so the
    * full pipeline — clustering included — is oracle-checked.
    */
  private val semdedup: Q = (s, d) => {
    val dotF = graft.functions.GraftFunctions.dot_fold _
    val assign = SimilarityOps.kmeansAssign(s, d).select(col("vec_id"), col("cluster"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dotF(col("v"), col("v"))))
    val m = e.join(assign, Seq("vec_id")).cutLineage
    val a = m.select(col("cluster"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = m.select(col("cluster"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val den = col("n_a") * col("n_b")
    val dups = a.join(b, Seq("cluster"))
      .where(col("id_b") < col("id_a"))
      .withColumn("cosine", when(den === 0.0d, lit(null).cast("double"))
        .otherwise(dotF(col("v_a"), col("v_b")) / den))
      .where(col("cosine") >= SemDedupTau)
      .select(col("id_a").as("vec_id")).distinct()
    m.select(col("vec_id"), col("cluster"))
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** Dataset-card statistics — the reporting deliverable every corpus
    * release ships: per (split, lang) cell, document count, token count,
    * character volume and distinct-source coverage. Reuses the
    * tx_split hash-bucket assignment and the tx_tokens whitespace
    * convention VERBATIM (same expressions, same oracle SQL fragments)
    * so the card can never disagree with the queries it summarizes.
    * All-integer output (counts and sums, no means) so the oracle
    * compares exactly. One pass + one map-side-combinable aggregate
    * into |splits|×|langs| rows; distinct-source is Spark's standard
    * two-phase distinct aggregate.
    */
  private val datasetStats: Q = (s, d) => {
    val bucket = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))), 1, 2),
      16, 10).cast("int")
    val splitCol = when(bucket < 205, "train")
      .when(bucket < 230, "valid").otherwise(lit("test"))
    val nToks = when(trim(col("text")) === "", 0)
      .otherwise(size(toks(col("text"))))
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"),
        splitCol.as("split"), nToks.cast("long").as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** Data-quality expectation checks — the pre-training validation gate
    * (the Deequ/Great-Expectations role): uniqueness, consistency,
    * domain membership, range, and referential integrity, each as one
    * row (check, n_rows, n_violations, observed). Violations are zero
    * on a healthy corpus — that IS the report — while `observed` carries
    * a non-trivial witness statistic per check (distinct counts, max
    * length, min cents, distinct days) so the gate also pins real
    * values. Shapes: ONE aggregate over each table (all per-table
    * checks fold in the same pass — map-side combinable counts and
    * conditional sums), plus one broadcast anti join for the
    * referential check; single-row frames cross-join for free. A
    * planted-violation spec (PipelineOpsSpec) proves every check fires.
    */
  private val dataChecks: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val ev = Tables.events(s, d)
    val docRows = docs.agg(
      count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("dist_id"),
      sum(when(col("text").isNull ||
        col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("bad_text"),
      sum(when(!col("lang").isin("en", "de", "fr", "es", "zh"), 1L)
        .otherwise(0L)).as("bad_lang"),
      countDistinct(col("lang")).as("dist_lang"),
      max(col("n_chars")).as("max_chars"))
      .select(explode(array(
        struct(lit("doc_id_unique").as("check"), col("n").as("n_rows"),
          (col("n") - col("dist_id")).as("n_violations"),
          col("dist_id").as("observed")),
        struct(lit("doc_text_consistent").as("check"), col("n").as("n_rows"),
          col("bad_text").as("n_violations"), col("max_chars").as("observed")),
        struct(lit("doc_lang_domain").as("check"), col("n").as("n_rows"),
          col("bad_lang").as("n_violations"), col("dist_lang").as("observed"))
      )).as("c")).select(col("c.*"))
    val evAgg = ev.agg(
      count(lit(1)).as("n"),
      sum(when(!col("event_type").isin(
        "view", "click", "purchase", "signup", "error"), 1L)
        .otherwise(0L)).as("bad_type"),
      countDistinct(col("event_type")).as("dist_type"),
      sum(when(col("value").isNull || col("value") < 0, 1L).otherwise(0L))
        .as("bad_value"),
      coalesce(min(round(col("value") * 100).cast("long")), lit(0L)).as("min_cents"),
      sum(when(col("ts").isNull || col("ts") < lit("2020-01-01").cast("timestamp") ||
        col("ts") >= lit("2031-01-01").cast("timestamp"), 1L).otherwise(0L))
        .as("bad_ts"),
      countDistinct(to_date(col("ts"))).as("n_days"),
      countDistinct(col("user_id")).as("dist_users"))
    val orphans = ev.select(col("user_id"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
        col("user_id") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val evRows = evAgg.crossJoin(orphans)
      .select(explode(array(
        struct(lit("event_type_domain").as("check"), col("n").as("n_rows"),
          col("bad_type").as("n_violations"), col("dist_type").as("observed")),
        struct(lit("event_value_range").as("check"), col("n").as("n_rows"),
          col("bad_value").as("n_violations"), col("min_cents").as("observed")),
        struct(lit("event_ts_range").as("check"), col("n").as("n_rows"),
          col("bad_ts").as("n_violations"), col("n_days").as("observed")),
        struct(lit("event_user_ref").as("check"), col("n").as("n_rows"),
          col("n_orphans").as("n_violations"), col("dist_users").as("observed"))
      )).as("c")).select(col("c.*"))
    docRows.unionByName(evRows)
  }

  /** Split-leakage report — the gate a training pipeline runs AFTER
    * splitting and BEFORE training: near-duplicate pairs that STRADDLE
    * train/valid/test boundaries (a near-copy of a validation document
    * in train inflates eval exactly like benchmark contamination, but
    * between a corpus's own splits). Composes the two existing
    * definitions verbatim — the d2 verified near-dup pairs (materialized
    * once per session, core/Materialize) and tx_split's hash
    * assignment — so the report cannot drift from either: two id-keyed
    * joins over the pair output + a filter, cost O(pairs) beyond the
    * shared pair graph (the tx_source_overlap shape pointed at splits).
    * The remedy (re-home or drop one side of each leaked pair) consumes
    * these rows directly.
    */
  private val splitLeakage: Q = (s, d) => {
    val sp = TextOps.queries("tx_split")(s, d).select(col("doc_id"), col("split"))
    DedupOps.queries("d2_minhash_lsh")(s, d)
      .select(col("doc_a"), col("doc_b"))
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
  }

  /** Flag threshold for [[embedContamination]] (the corpus's near-dup
    * cosine ceiling is ~0.5; 0.35 splits genuinely-similar from bulk). */
  val EmbedContamTau = 0.35

  /** EMBEDDING-level benchmark contamination — the semantic sibling of
    * the n-gram [[contamination]] screen (decontamination pipelines run
    * BOTH: n-grams catch verbatim/near-verbatim inclusion, embeddings
    * catch paraphrase): every candidate document's max cosine against
    * the benchmark-source embedding set, flagged at [[EmbedContamTau]].
    * The benchmark suite is bounded by nature, so its vectors BROADCAST
    * and the corpus side streams through one codegen stage + a hash
    * max-aggregate — no corpus self-join anywhere; at a benchmark suite
    * too big to broadcast, the d12 banded-LSH candidate path is the
    * remedy (same pattern, bench vectors banded instead of broadcast).
    * Max over per-pair cosines is order-independent and each cosine is
    * the same fixed-order fold in both engines, so doubles compare
    * exactly.
    */
  private val embedContamination: Q = (s, d) => {
    import SimilarityOps.{cosineCol, vDouble}
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), vDouble(col("embedding")).as("v"))
    val withSrc = e.join(docs, Seq("doc_id"))
    val bench = withSrc.where(col("source") === BenchmarkSource)
      .select(col("v").as("bv"))
    withSrc.where(col("source") =!= BenchmarkSource)
      .crossJoin(broadcast(bench))
      .withColumn("cos", cosineCol(col("v"), col("bv")))
      .groupBy(col("doc_id"))
      .agg(max(col("cos")).as("max_bench_cosine"))
      .select(col("doc_id"), col("max_bench_cosine"),
        (col("max_bench_cosine") >= lit(EmbedContamTau)).as("contaminated"))
  }

  /** Token-length histogram geometry for the drift monitor: fixed-width
    * bins, top bin open-ended. Fixed and shared with the oracle so the
    * binning definition exists exactly once per engine. */
  val DriftBinWidth = 16
  val DriftNBins = 8

  /** Delivery drift monitor — Population Stability Index (the standard
    * production drift score) plus exact total-variation distance between
    * the ARRIVING delivery's token-length distribution and the
    * accumulated corpus, per lang slice. This is the observability pass
    * a 100 TB ingest runs on every delivery: "did the new crawl's shape
    * move?" — a PSI spike on one lang is the canonical early warning for
    * a scraper regression or a source mix shift. The delivery convention
    * is [[DedupOps.IncomingSource]], shared with d7/d14's ingest ops.
    *
    * Distributions are Laplace-smoothed (+1 per bin over n+[[DriftNBins]])
    * so empty bins are well-defined on both engines; every PSI term
    * `(p_cur - p_ref) * ln(p_cur / p_ref)` is ≥ 0 by construction (the
    * factors share a sign), so `psi_micro ≥ 0` is an invariant the spec
    * pins. Cross-engine float discipline: both probabilities derive from
    * identical integers by one division each, the per-bin terms fold in
    * FIXED bin order (float + is not associative — the bm25 discipline),
    * and the comparable outputs are MICRO-ROUNDED integers; `ln` is the
    * only transcendental (libm may differ by 1 ulp, sub-micro). The TVD
    * companion needs no `ln` at all.
    *
    * Scale shape: ONE map-side-combinable groupBy over (lang, phase,
    * bin) collapses the corpus to |langs|×2×[[DriftNBins]] rows —
    * everything downstream is metadata-sized. The corpus is scanned
    * once, projected to two columns, and never shuffled (the aggregate
    * ships partial counts only); the monitor costs a scan, full stop.
    */
  /** The shared binning expression — ONE definition for the batch
    * monitor and the streaming ingest twin, so the histogram the stream
    * maintains can never drift from the batch definition. */
  def driftBin(text: Column): Column = {
    val nTok = when(trim(text) === "", lit(0)).otherwise(size(toks(text)))
    least(floor(nTok.cast("double") / lit(DriftBinWidth.toDouble)),
      lit((DriftNBins - 1).toDouble)).cast("long")
  }

  def driftPsiOf(docs: DataFrame): DataFrame = {
    val binned = docs.select(col("lang"),
      when(col("source") === DedupOps.IncomingSource, lit("cur"))
        .otherwise(lit("ref")).as("phase"),
      driftBin(col("text")).as("bin"))
    val counts = binned.groupBy("lang", "phase", "bin")
      .agg(count(lit(1)).as("cnt"))
    driftPsiOfCounts(
      counts.where(col("phase") === "ref").select("lang", "bin", "cnt"),
      counts.where(col("phase") === "cur").select("lang", "bin", "cnt"))
  }

  /** The PSI/TVD finisher over two pre-aggregated (lang, bin, cnt)
    * histograms — shared by the batch monitor and the streaming parity
    * spec (the stream maintains the `cur` histogram; this folds it
    * against the static reference). Inputs are metadata-sized
    * (|langs| × [[DriftNBins]] rows at most). */
  def driftPsiOfCounts(refCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val axis = refCounts.select("lang").union(curCounts.select("lang"))
      .distinct()
      .select(col("lang"),
        explode(sequence(lit(0L), lit((DriftNBins - 1).toLong))).as("bin"))
    val cells = axis
      .join(refCounts.select(col("lang"), col("bin"), col("cnt").as("ref_cnt")),
        Seq("lang", "bin"), "left")
      .join(curCounts.select(col("lang"), col("bin"), col("cnt").as("cur_cnt")),
        Seq("lang", "bin"), "left")
      .na.fill(0L, Seq("ref_cnt", "cur_cnt"))
    val tot = cells.groupBy("lang")
      .agg(sum("ref_cnt").as("ref_n"), sum("cur_cnt").as("cur_n"))
    val pr = (col("ref_cnt") + lit(1L)).cast("double") /
      (col("ref_n") + lit(DriftNBins.toLong)).cast("double")
    val pc = (col("cur_cnt") + lit(1L)).cast("double") /
      (col("cur_n") + lit(DriftNBins.toLong)).cast("double")
    val terms = cells.join(tot, Seq("lang"))
      .withColumn("psi_t", (pc - pr) * log(pc / pr))
      .withColumn("tvd_t", abs(pc - pr))
    def fold(c: String): Column = (0 until DriftNBins).map(i =>
      coalesce(max(when(col("bin") === i, col(c))), lit(0.0d)))
      .reduceLeft(_ + _)
    terms.groupBy("lang").agg(
      max(col("ref_n")).as("ref_n"), max(col("cur_n")).as("cur_n"),
      round(fold("psi_t") * lit(1e6)).cast("long").as("psi_micro"),
      round(fold("tvd_t") * lit(0.5) * lit(1e6)).cast("long").as("tvd_micro"))
  }

  private val driftPsi: Q = (s, d) => driftPsiOf(Tables.documents(s, d))

  /** Gradient-descent rounds, integer learning rate, and the bootstrap
    * label threshold for the in-engine quality-classifier trainer
    * (lr = 4 over 6 rounds moves training accuracy from the 51% base
    * rate to 88% on this corpus — the curve the spec pins). Shared with
    * the oracle. */
  val QcRounds = 6
  val QcLr = 4L
  val QcLabelChars = 300L

  /** The classifier's micro-quantized feature rows — ONE derivation
    * shared by the Spark trainer and (textually mirrored) the oracle:
    * bias, token count / 100, and stopword ratio, each as 1e-6
    * fixed-point BIGINTs so every inter-round quantity is integer-exact.
    */
  def qcFeaturesOf(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val nTok = when(trim(col("text")) === "", 0).otherwise(size(t))
    val stopCnt = size(filter(t, x => x.isin(TextOps.StopWords: _*)))
    docs.select(col("doc_id"),
      when(col("n_chars") > lit(QcLabelChars), 1L).otherwise(0L).as("y"),
      lit(1000000L).as("x0"),
      (nTok.cast("long") * lit(10000L)).as("x1"),
      when(nTok === 0, 0L).otherwise(
        round(stopCnt.cast("double") / nTok.cast("double") * lit(1e6))
          .cast("long")).as("x2"))
  }

  /** In-engine quality-classifier TRAINING — the bootstrap step of every
    * pre-training quality filter (fastText/DSIR-style): fit a logistic
    * regression on cheap per-doc features against a rule-based seed
    * label (here "long document", [[QcLabelChars]]), full-batch gradient
    * descent for [[QcRounds]] rounds. The trained filter then scores the
    * corpus at a z ≥ 0 integer comparison per row — that serving pass
    * is embarrassingly parallel; this operator is the distributed
    * TRAINER that produces its weights.
    *
    * Determinism discipline (the q_pagerank integer fixed-point applied
    * to SGD): weights live as 1e-6 fixed-point BIGINTs; each round's
    * margin z = Σ wⱼ·xⱼ is an EXACT integer product-sum, so accuracy
    * (z ≥ 0 vs label) involves no float at all; the only transcendental
    * is the sigmoid, whose per-row output is micro-rounded to an integer
    * residual IMMEDIATELY (g = round((y − σ)·1e6)), making the gradient
    * Σ g·xⱼ an ORDER-FREE integer sum (no float accumulation across the
    * shuffle — arrival order cannot move the result); the weight step
    * re-enters fixed point through one double division chain in fixed
    * order (G / n / 1e6, rounded away from zero on both engines). The
    * oracle unrolls the same [[QcRounds]] rounds as chained CTE stages
    * (the BPE-oracle discipline) and reproduces weights AND accuracy
    * exactly.
    *
    * Scale shape: the feature frame is computed once and persisted
    * (narrow — 5 columns); each round is ONE map-side-combinable
    * aggregate producing 4 numbers; the driver carries only the weight
    * vector (the x_engine_fixpoint driver-loop discipline — round-trips,
    * not data volume). At petabyte doc counts the integer gradient sum
    * approaches BIGINT range — the remedy is a DECIMAL(38) sum or a
    * per-partition pre-scale, same order-free property.
    */
  private val qualityClassifier: Q = (s, d) =>
    graft.core.Materialize.once(s, s"qc_train:$d")(qcTrainRounds(s, d))

  private def qcTrainRounds(s: SparkSession, d: String): DataFrame = {
    val feat = qcFeaturesOf(Tables.documents(s, d)).cutLineage
    feat.persist()
    try {
      val n = feat.count()
      require(n > 0, "empty corpus")
      // DuckDB/Spark round(): ties away from zero (math.round is NOT —
      // it rounds half toward +inf, wrong for negative gradients).
      def rndAway(x: Double): Long =
        (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
      val w = Array(0L, 0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
      for (r <- 1 to QcRounds) {
        val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2")
        val pred = when(z >= 0L, 1L).otherwise(0L)
        val p = lit(1.0d) / (lit(1.0d) + exp(-(z.cast("double") / lit(1e12))))
        val g = round((col("y").cast("double") - p) * lit(1e6)).cast("long")
        val row = feat.agg(
          sum(when(pred === col("y"), 1L).otherwise(0L)).as("nc"),
          sum(g * col("x0")).as("g0"),
          sum(g * col("x1")).as("g1"),
          sum(g * col("x2")).as("g2")).head
        (0 to 2).foreach { j =>
          w(j) += rndAway((QcLr * row.getLong(j + 1)).toDouble / n.toDouble / 1e6)
        }
        out += ((r, w(0), w(1), w(2), row.getLong(0)))
      }
      import s.implicits._
      out.toSeq.toDF("round", "w0_micro", "w1_micro", "w2_micro", "n_correct")
    } finally { feat.unpersist(); () }
  }

  /** Per-document DROP ATTRIBUTION over the clean pipeline — the
    * "why was my document removed?" explain query every curation
    * platform grows: each doc gets the FIRST gate that dropped it
    * (short → repetitive → exact_dup, the clean pipeline's own
    * precedence) or `kept`, with the surviving keeper's id attached to
    * exact duplicates. Built from the SAME session-materialized scoring
    * artifact the clean pipeline's first stage reads
    * ([[scoredDocs]] — the corpus text pass runs once no matter which
    * face asks) and the SAME gate expressions, textually mirrored in
    * the oracle, so attribution can never disagree with the pipeline it
    * explains. Scale shape: one artifact scan + a hash-keyed
    * min-aggregate join — no text anywhere.
    */
  private val dropReasons: Q = (s, d) => {
    val scored = scoredDocs(s, d)
    val clean = scored.where(col("n_tok") >= 20 && col("dup2") < 0.05)
    val keep = clean.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    scored.join(keep, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("n_tok") < 20, "short")
          .when(col("dup2") >= 0.05, "repetitive")
          .when(col("doc_id") =!= col("keeper"), "exact_dup")
          .otherwise(lit("kept")).as("reason"),
        when(col("n_tok") >= 20 && col("dup2") < 0.05 &&
          col("doc_id") =!= col("keeper"), col("keeper")).as("dup_of"))
  }

  /** The SERVE pass of the trained quality filter — what actually runs
    * over 100 TB once training converges: score every document with the
    * final round's weights and keep those at z ≥ 0. The margin is an
    * EXACT integer product-sum over the micro-quantized features (no
    * float anywhere in serving), so the keep decision is reproducible to
    * the bit. Composition discipline: the weights come from the SAME
    * session-materialized training table the pipe_quality_classifier
    * query serves ([[graft.core.Materialize.once]] — training runs once
    * per (session, corpus) no matter how many consumers), and the oracle
    * composes the trainer's CTE chain verbatim so the two definitions
    * cannot drift. Serving is one zero-shuffle codegen pass: features →
    * integer margin → flag.
    */
  /** ONE scoring body for the batch serve pass and the streaming twin
    * ([[graft.streaming.DocStreaming.qualityFilterStream]]): features →
    * exact integer margin → keep flag. Weights arrive as frozen longs
    * (micro fixed-point), so the pass is stateless and zero-float. */
  def qcServeOf(docs: DataFrame, w0: Long, w1: Long, w2: Long): DataFrame =
    qcFeaturesOf(docs)
      .select(col("doc_id"),
        (lit(w0) * col("x0") + lit(w1) * col("x1") + lit(w2) * col("x2"))
          .as("z"))
      .withColumn("keep", col("z") >= 0L)

  /** The trained weights of the final [[QcRounds]] round, from the
    * session-materialized training table (training runs once per
    * (session, corpus) no matter how many consumers). */
  def qcTrainedWeights(s: SparkSession, d: String): (Long, Long, Long) = {
    val rounds = graft.core.Materialize.once(s, s"qc_train:$d")(qcTrainRounds(s, d))
    val last = rounds.where(col("round") === QcRounds)
      .select("w0_micro", "w1_micro", "w2_micro").head
    (last.getLong(0), last.getLong(1), last.getLong(2))
  }

  private val qualityFilter: Q = (s, d) => {
    val (w0, w1, w2) = qcTrainedWeights(s, d)
    qcServeOf(Tables.documents(s, d), w0, w1, w2)
  }

  /** Default noise seed for [[dpCard]] (override with
    * `spark.graft.dp.seed`). Fixed by default so the release is
    * REPLAYABLE and oracle-gated; a production run supplies a secret
    * seed — the privacy of the Laplace mechanism lives entirely in the
    * seed's secrecy, the arithmetic is identical. */
  val DpSeedDefault = "graft-dp-v1"

  /** Differentially-private dataset card — the publishable face of the
    * release stats: per (lang, split) cell of the cleaned corpus, the
    * doc count plus Laplace(b = 1/ε) noise at ε = 1. Sensitivity is 1 by
    * construction (each doc contributes to exactly one cell), so b = 1.
    * Noise is inverse-CDF sampled — u from the first 13 md5 hex digits
    * of (seed, cell) as the EXACT dyadic (h + 0.5)/2^52 (never 0/1, no
    * ln(0)), noise = −sign(u−½)·ln(1−2|u−½|) — every step up to the ln
    * is exact IEEE arithmetic reproduced verbatim in the oracle (Horner
    * fold over the hex digits); ln carries the bm25-measured 1-ulp libm
    * risk, absorbed by the micro-rounded output. Only the noisy value is
    * published — the true count never leaves the plan. One
    * map-side-combinable groupBy over the session-materialized cleaned
    * frame; output is |cells| rows. */
  private val dpCard: Q = (s, d) => {
    val seed = s.conf.getOption("spark.graft.dp.seed").getOrElse(DpSeedDefault)
    // The oracle SQL interpolates DpSeedDefault at compile time, so a
    // session that overrides the seed while the correctness gate is
    // active would compare two different mechanisms — refuse instead.
    require(seed == DpSeedDefault ||
        !s.conf.get("spark.graft.oracle.gate", "false").toBoolean,
      s"pipe_dp_card: spark.graft.dp.seed='$seed' differs from the oracle's " +
        s"compiled-in '$DpSeedDefault' while the oracle gate is active; " +
        "unset the conf (or the gate) so engine and oracle draw the same noise.")
    if (seed == DpSeedDefault)
      org.slf4j.LoggerFactory.getLogger("graft.PipelineOps").warn(
        "pipe_dp_card: using the deterministic default DP seed — the noise " +
          "is fully recoverable and provides NO real differential privacy; " +
          "set spark.graft.dp.seed from a secret source for a real release.")
    val cells = cleanedDocs(s, d).groupBy("lang", "split")
      .agg(count(lit(1)).as("n"))
    val h = conv(substring(md5(concat(lit(seed), lit(":"), col("lang"),
      lit(":"), col("split"))), 1, 13), 16, 10).cast("double")
    val u = (h + lit(0.5d)) / lit(4503599627370496.0d) // 2^52
    val c = u - lit(0.5d)
    val noise = -signum(c) * log(lit(1.0d) - lit(2.0d) * abs(c))
    cells.select(col("lang"), col("split"),
      round((col("n").cast("double") + noise) * 1e6).cast("long")
        .as("noisy_count_micro"))
  }

  /** Composed LANDING-ZONE ingest gate — the one query an arriving
    * delivery actually runs: every src19 document through ALL the
    * ingest screens in precedence — blocked terms
    * ([[TextOps.blocklistHits]] verbatim), exact duplicate against the
    * corpus and within the batch (d7's
    * [[DedupOps.incrementalDedupOf]]), near-duplicate against the
    * persisted MinHash index and within the batch (d14's pair output;
    * a doc is near-dup when it has a CORPUS partner or a SMALLER-ID
    * batch partner — the d7 intra-batch keeper discipline lifted to
    * pairs), and the trained quality filter ([[qcServeOf]] with the
    * frozen [[qcTrainedWeights]]) — emitting one verdict per doc with
    * the duplicate's keeper attached. The composition discipline is
    * pipe_corpus_release's: every stage is the REGISTERED definition
    * (engine) / its SQL text (oracle) verbatim, so the gate can never
    * disagree with the individual screens, and the shared session
    * artifacts (d14's bucketed index, the materialized training) mean
    * no stage re-reads what another already built. Scale shape: all
    * four screens are batch-sized beyond their own proven costs; the
    * verdict join is doc_id-keyed over the delivery. */
  private val ingestGate: Q = (s, d) => {
    val all = Tables.documents(s, d)
    val batch = all.where(col("source") === DedupOps.IncomingSource)
    val (w0, w1, w2) = qcTrainedWeights(s, d)
    val base = batch.select(col("doc_id"),
      (TextOps.blocklistHits(col("text")) > 0).as("blocked"))
    val exact = DedupOps.incrementalDedupOf(all)
      .select(col("doc_id"), col("is_dup"), col("dup_of").as("exact_dup_of"))
    val pairs = DedupOps.queries("d14_incremental_minhash")(s, d)
    val srcOf = all.select(col("doc_id").as("partner"),
      col("source").as("p_src"))
    val nd = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("partner"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner")))
      .join(broadcast(srcOf), Seq("partner"))
      .where(col("p_src") =!= DedupOps.IncomingSource ||
        col("partner") < col("doc_id"))
      .groupBy("doc_id").agg(min(col("partner")).as("near_dup_of"))
    val qc = qcServeOf(batch, w0, w1, w2).select(col("doc_id"), col("keep"))
    gateVerdictOf(base, exact, nd, qc)
  }

  /** THE ingest-gate verdict fold: precedence + duplicate-keeper
    * projection over the four screen arms' outputs, shared by the batch
    * gate and [[graft.streaming.DocStreaming.ingestGateStream]] so the
    * two faces can never disagree on precedence (the registered-
    * definition-verbatim discipline applied to the fold itself).
    * Arm frames: base(doc_id, blocked), exact(doc_id, is_dup,
    * exact_dup_of), nd(doc_id, near_dup_of) — left-joined, absent rows
    * mean "no near partner" — and qc(doc_id, keep). */
  def gateVerdictOf(base: DataFrame, exact: DataFrame, nd: DataFrame,
      qc: DataFrame): DataFrame =
    base.join(exact, Seq("doc_id"))
      .join(nd, Seq("doc_id"), "left")
      .join(qc, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("blocked"), "blocked")
          .when(col("is_dup"), "exact_dup")
          .when(col("near_dup_of").isNotNull, "near_dup")
          .when(!col("keep"), "low_quality")
          .otherwise(lit("admitted")).as("verdict"),
        col("is_dup"), col("exact_dup_of"), col("near_dup_of"))
      .select(col("doc_id"), col("verdict"),
        when(col("verdict") === "exact_dup", col("exact_dup_of"))
          .when(col("verdict") === "near_dup", col("near_dup_of"))
          .as("dup_of"))

  /** Curriculum phase count for [[curriculumBuckets]]. */
  val CurriculumPhases = 4

  /** Curriculum ordering — the data-ordering pass of curriculum
    * learning: rank every document by the TRAINED quality margin z (the
    * third consumer of the session-materialized training —
    * [[qcTrainedWeights]]/[[qcServeOf]], so ordering cannot drift from
    * the filter it extends) and cut the corpus into [[CurriculumPhases]]
    * equal-population phases, phase 1 = highest quality (train on clean
    * data first, widen later). Rank-based cuts (ntile over the exact
    * integer z, ties to doc_id) rather than value interpolation — the
    * q_kll_quantiles cross-engine interpolation hazard never arises.
    *
    * Scale: the un-partitioned ntile is the small-scale EXACT form (it
    * serializes one sort task — its WindowExec warning is the honest
    * signal); the 100 TB path is SHIPPED as the oracle-gated sibling
    * [[curriculumKll]] (tx_curriculum_kll): KLL-sketch cut points +
    * broadcast-threshold assignment, the d5→d12 exact-vs-scale-path
    * precedent. Output is the per-phase summary (|phases| rows):
    * population, z range, keep share. */
  private val curriculumBuckets: Q = (s, d) => {
    val (w0, w1, w2) = qcTrainedWeights(s, d)
    val scored = qcServeOf(Tables.documents(s, d), w0, w1, w2)
    val ph = ntile(CurriculumPhases)
      .over(Window.orderBy(col("z").desc, col("doc_id")))
    scored.select(col("doc_id"), col("z"), col("keep"), ph.as("phase"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
  }

  /** THE curriculum phase-assignment rule, shared by [[curriculumKll]]
    * and the streaming serve twin
    * ([[graft.streaming.DocStreaming.curriculumAssignStream]]) so the
    * two faces cannot drift: ties at a cut fall to the lower-quality
    * side; phase 1 = top quartile by z. */
  def phaseOf(zv: Column, t25: Column, t50: Column, t75: Column): Column =
    when(zv > t75, 1).when(zv > t50, 2).when(zv > t25, 3).otherwise(4)

  /** Frozen curriculum cut points: ONE corpus pass through the mergeable
    * KLL sketch over the trained margin z, collected as three bounded
    * literals (the qcTrainedWeights discipline — train/sketch once,
    * serve statelessly). Shared by [[curriculumKll]] and the streaming
    * serve twin. */
  def curriculumCuts(s: SparkSession, d: String): (Double, Double, Double) = {
    import graft.functions.KllSketch._
    val (w0, w1, w2) = qcTrainedWeights(s, d)
    val r = qcServeOf(Tables.documents(s, d), w0, w1, w2)
      .select(col("z").cast("double").as("zv"))
      .agg(kll_sketch_agg(col("zv"), Relational.KllK).as("sk"))
      .select(kll_quantiles(col("sk"), Seq(0.25, 0.5, 0.75)).as("q"))
      .head().getSeq[Double](0)
    (r(0), r(1), r(2))
  }

  /** The 100 TB curriculum path (tx_curriculum_kll) — the scale sibling
    * of [[curriculumBuckets]], shipped as its own oracle-gated query (the
    * d5→d12 exact-vs-scale-path precedent): phase cut points come from
    * ONE mergeable KLL sketch over the trained margin z (q_kll_quantiles'
    * machinery, [[graft.functions.KllSketchAgg]], via [[curriculumCuts]]
    * — three bounded literals, the zipWithIndex metadata class) and
    * phase assignment is a literal-threshold scan — the plan has NO
    * global-order ntile, so no single task ever sees the corpus sort at
    * any size. Cost shape, exactly as executed: pass 1 the sketch
    * aggregate, pass 2 the assignment folded straight into ONE
    * map-side-combinable groupBy to |phases| rows carrying every gated
    * sum — the corpus is scanned twice total, never materialized.
    *
    * Oracle contract (the q_kll/q_hll discipline — KLL compaction is
    * randomized, so cut VALUES are run-varying and never gated): the
    * gated columns are exact-reproducible totals plus PROPERTY booleans
    * the sketch guarantees — each cut's exact rank interval
    * [count(z<t)/n, count(z≤t)/n] intersects [p ± [[Relational.KllRankEps]]]
    * ([[Relational.kllRankOk]], the tied-value-sound form shared with
    * q_kll_quantiles), cut monotonicity, and phase-label sanity (every
    * label in [1, phases]); corpus CONSERVATION is gated by n_docs
    * hash-matching the oracle's independent count(*). The oracle emits
    * literal TRUE; any violated bound flips the engine boolean and
    * fails the compare at any SF.
    */
  private val curriculumKll: Q = (s, d) => {
    import s.implicits._
    val (w0, w1, w2) = qcTrainedWeights(s, d)
    val (t25, t50, t75) = curriculumCuts(s, d) // pass 1: the sketch
    val scored = qcServeOf(Tables.documents(s, d), w0, w1, w2)
      .select(col("z").cast("double").as("zv"), col("keep"))
    // Pass 2: literal-threshold assignment + every gated aggregate in
    // one scan, grouped to |phases| rows, folded on bounded metadata.
    val perPhase = scored
      .withColumn("phase", phaseOf(col("zv"), lit(t25), lit(t50), lit(t75)))
      .groupBy("phase")
      .agg(count(lit(1)).as("pn"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("pk"),
        sum(when(col("zv") < t25, 1L).otherwise(0L)).as("lo25"),
        sum(when(col("zv") <= t25, 1L).otherwise(0L)).as("hi25"),
        sum(when(col("zv") < t50, 1L).otherwise(0L)).as("lo50"),
        sum(when(col("zv") <= t50, 1L).otherwise(0L)).as("hi50"),
        sum(when(col("zv") < t75, 1L).otherwise(0L)).as("lo75"),
        sum(when(col("zv") <= t75, 1L).otherwise(0L)).as("hi75"))
    val props = perPhase.agg(
      sum(col("pn")).as("n"), sum(col("pk")).as("nk"),
      sum(col("lo25")).as("lo25"), sum(col("hi25")).as("hi25"),
      sum(col("lo50")).as("lo50"), sum(col("hi50")).as("hi50"),
      sum(col("lo75")).as("lo75"), sum(col("hi75")).as("hi75"),
      count(lit(1)).as("n_phases"),
      min(col("phase")).as("ph_min"), max(col("phase")).as("ph_max"))
    Seq(25L, 50L, 75L).toDF("cut_pct")
      .crossJoin(broadcast(props))
      .select(col("cut_pct"),
        when(col("cut_pct") === 25L,
            Relational.kllRankOk(col("lo25"), col("hi25"), col("n"), 0.25))
          .when(col("cut_pct") === 50L,
            Relational.kllRankOk(col("lo50"), col("hi50"), col("n"), 0.5))
          .otherwise(
            Relational.kllRankOk(col("lo75"), col("hi75"), col("n"), 0.75))
          .as("rank_ok"),
        lit(t25 <= t50 && t50 <= t75).as("mono_ok"),
        (col("n_phases") <= lit(CurriculumPhases) &&
          col("ph_min") >= 1 && col("ph_max") <= lit(CurriculumPhases))
          .as("conserve_ok"),
        col("n").as("n_docs"), col("nk").as("n_keep"))
  }

  /** k-anonymity floor and the quasi-identifier length-bucket width for
    * [[kAnonymityOf]]. Shared with the oracle. */
  val KAnonK = 5L
  val KAnonCharBin = 100L

  /** k-anonymity release screen — the privacy gate a dataset release
    * runs beside the tx_pii_scrub content scrub: group the corpus by its
    * quasi-identifier tuple (lang, source, bucketed length — the
    * metadata an attacker can join on even after PII is scrubbed from
    * the text) and flag every group smaller than [[KAnonK]]: a document
    * alone in its metadata cell is re-identifiable no matter how clean
    * its text is, and the release either generalizes the cell or drops
    * it. Output is one row per occupied cell with its population and the
    * at-risk flag — integer-exact, trivially oracle-mirrored.
    *
    * Scale shape: ONE map-side-combinable groupBy; output is bounded by
    * the quasi-identifier cardinality product, not the corpus. The
    * corpus is scanned once, projected to three small columns, never
    * shuffled (partial counts only).
    */
  def kAnonymityOf(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"),
        (col("n_chars").cast("double") / lit(KAnonCharBin.toDouble))
          .cast("long").as("len_bin"))
      .groupBy("lang", "source", "len_bin")
      .agg(count(lit(1)).as("group_n"))
      .withColumn("at_risk", col("group_n") < lit(KAnonK))

  private val kAnonymity: Q = (s, d) => kAnonymityOf(Tables.documents(s, d))

  val queries: Map[String, Q] = Map(
    "pipe_drift_psi" -> driftPsi,
    "pipe_k_anonymity" -> kAnonymity,
    "pipe_dp_card" -> dpCard,
    "tx_curriculum_buckets" -> curriculumBuckets,
    "tx_curriculum_kll" -> curriculumKll,
    "pipe_ingest_gate" -> ingestGate,
    "pipe_quality_classifier" -> qualityClassifier,
    "pipe_quality_filter" -> qualityFilter,
    "pipe_drop_reasons" -> dropReasons,
    "pipe_split_leakage" -> splitLeakage,
    "pipe_embed_contamination" -> embedContamination,
    "pipe_data_checks" -> dataChecks,
    "pipe_dataset_stats" -> datasetStats,
    "pipe_semdedup" -> semdedup,
    "tx_contamination" -> contamination,
    "tx_line_dedup" -> lineDedup,
    "tx_keywords" -> keywords,
    "tx_lm_score" -> lmScore,
    "tx_bigram_lm" -> bigramLm,
    "tx_bm25" -> bm25,
    "tx_shard_shuffle" -> shardShuffle,
    "ann_hybrid_rrf" -> hybridRrf,
    "tx_repetition" -> repetition,
    "tx_pack" -> pack,
    "tx_length_batching" -> lengthBatching,
    "tx_sample_mix" -> sampleMix,
    "tx_temperature_mix" -> temperatureMix,
    "tx_vocab_topk" -> vocabTopK,
    "pipe_clean_corpus" -> cleanCorpus,
    "pipe_corpus_release" -> corpusRelease,
  )

  /** Word n-grams in DuckDB, mirroring [[wordGrams]] exactly (1-based
    * inclusive list_slice == Spark's slice(start, length) clipping). */
  private def gramsSql(n: Int) =
    s"""list_transform(generate_series(1, greatest(len(toks)-${n - 1}, 1)),
       |    i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT)+${n - 1}), ' '))""".stripMargin

  private val toksSql = s"string_split_regex(trim(text), '$Ws+')"

  /** The BM25 ranking as ONE SQL text ending in (doc_id, rank,
    * score_micro) — the oracle twin of [[bm25]], shared by the tx_bm25
    * and ann_hybrid_rrf entries so the lexical-arm definition exists
    * exactly once on each side. Score fold mirrors the Spark side
    * token-for-token: same parenthesization, same FIXED term order,
    * micro-rounded compare. */
  private lazy val bm25Sql: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val fold = Bm25Terms.map(t =>
      s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0)").mkString("\n    + ")
    s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
       |t2 AS (SELECT doc_id, w FROM tok WHERE w != ''),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       |tf AS (SELECT doc_id, w AS term, CAST(count(*) AS BIGINT) AS tf
       |       FROM t2 WHERE w IN ($inList) GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.term,
       |    ln((CAST((SELECT n FROM st) AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
       |        / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
       |    * ((CAST(tf.tf AS DOUBLE) * ${Bm25K1 + 1.0})
       |       / (CAST(tf.tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B + $Bm25B
       |          * CAST(dl.dl AS DOUBLE)
       |          / (CAST((SELECT tot FROM st) AS DOUBLE) / CAST((SELECT n FROM st) AS DOUBLE))))) AS s
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)),
       |agg AS (SELECT doc_id,
       |    $fold AS score
       |  FROM sc GROUP BY 1)
       |SELECT doc_id, CAST(rn AS INT) AS rank, score_micro FROM (
       |  SELECT doc_id, CAST(round(score * 1000000) AS BIGINT) AS score_micro,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000) AS BIGINT) DESC, doc_id) AS rn
       |  FROM agg)
       |WHERE rn <= $Bm25TopK""".stripMargin
  }

  /** The clean→dedup→split stage as ONE SQL text ending in
    * (doc_id, lang, split, n_tok) — the oracle twin of [[cleanedDocs]],
    * shared by the pipe_clean_corpus and pipe_corpus_release entries so
    * the stage definition exists exactly once on each side. */
  private def cleanedSql: String =
    s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, lang, text, toks, ${gramsSql(2)} AS g2 FROM t),
       |c AS (SELECT doc_id, lang, text, CAST(len(toks) AS BIGINT) AS n_tok
       |      FROM g
       |      WHERE len(toks) >= 20
       |        AND CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
       |            / CAST(len(g2) AS DOUBLE) < 0.05),
       |k AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY md5(text))
       |SELECT doc_id, lang,
       |  CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'valid' ELSE 'test' END AS split,
       |  n_tok
       |FROM (SELECT doc_id, lang, n_tok,
       |        16 * (strpos('0123456789abcdef',
       |               substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 1)) - 1)
       |        + (strpos('0123456789abcdef',
       |               substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 2, 1)) - 1) AS b
       |      FROM c WHERE doc_id IN (SELECT doc_id FROM k))""".stripMargin

  /** The trainer's full CTE chain (features → [[QcRounds]] unrolled
    * gradient rounds), shared by the pipe_quality_classifier and
    * pipe_quality_filter oracle entries so training and serving cannot
    * drift. Pre-stripped — splice with `s"WITH $qcCtesSql\n..."`. */
  private lazy val qcCtesSql: String = {
    val stopList = TextOps.StopWords.map("'" + _ + "'").mkString(", ")
    def roundCtes(j: Int): String = {
      val prev = if (j == 1) "winit" else s"w${j - 1}"
      s"""p$j AS (SELECT f.y, f.x0, f.x1, f.x2,
         |    w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 AS z
         |  FROM f CROSS JOIN $prev w),
         |g$j AS (SELECT
         |    CAST(sum(CASE WHEN (CASE WHEN z >= 0 THEN 1 ELSE 0 END) = y
         |             THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |    CAST(sum(gg * x0) AS BIGINT) AS s0,
         |    CAST(sum(gg * x1) AS BIGINT) AS s1,
         |    CAST(sum(gg * x2) AS BIGINT) AS s2
         |  FROM (SELECT y, x0, x1, x2, z,
         |      CAST(round((CAST(y AS DOUBLE)
         |        - CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
         |            + exp(-(CAST(z AS DOUBLE) / 1e12)))) * 1e6) AS BIGINT) AS gg
         |    FROM p$j) q),
         |w$j AS (SELECT
         |    w.w0 + CAST(round(CAST($QcLr * g.s0 AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1e6) AS BIGINT) AS w0,
         |    w.w1 + CAST(round(CAST($QcLr * g.s1 AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1e6) AS BIGINT) AS w1,
         |    w.w2 + CAST(round(CAST($QcLr * g.s2 AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1e6) AS BIGINT) AS w2,
         |    g.nc AS nc
         |  FROM $prev w CROSS JOIN g$j g CROSS JOIN nn)"""
    }
    s"""t AS (SELECT doc_id, n_chars, trim(text) = '' AS emp,
       |    string_split_regex(trim(text), '$Ws+') AS tk FROM documents),
       |f AS (SELECT doc_id,
       |    CASE WHEN n_chars > $QcLabelChars THEN 1 ELSE 0 END AS y,
       |    1000000::BIGINT AS x0,
       |    CAST((CASE WHEN emp THEN 0 ELSE len(tk) END) * 10000 AS BIGINT) AS x1,
       |    CAST(CASE WHEN (CASE WHEN emp THEN 0 ELSE len(tk) END) = 0 THEN 0
       |         ELSE round(CAST(len(list_filter(tk, x -> x IN ($stopList))) AS DOUBLE)
       |              / CAST(len(tk) AS DOUBLE) * 1e6) END AS BIGINT) AS x2
       |  FROM t),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |winit AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2),
       |${(1 to QcRounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // Unrolls the QcRounds gradient-descent rounds as chained CTE stages
    // (the BPE-oracle discipline); every inter-round quantity is a
    // fixed-point BIGINT, so only the per-row sigmoid is float — and it
    // micro-rounds to an integer before any aggregation. The CTE chain
    // is shared VERBATIM with pipe_quality_filter's serve oracle.
    "pipe_quality_classifier" -> {
      val finals = (1 to QcRounds).map(j =>
        s"SELECT CAST($j AS INT) AS round, w0 AS w0_micro, " +
          s"w1 AS w1_micro, w2 AS w2_micro, nc AS n_correct FROM w$j")
        .mkString("\nUNION ALL\n")
      s"WITH $qcCtesSql\n$finals"
    },
    "pipe_quality_filter" ->
      s"""WITH $qcCtesSql
         |SELECT f.doc_id,
         |  w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 AS z,
         |  (w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 >= 0) AS keep
         |FROM f CROSS JOIN w$QcRounds w""".stripMargin,
    // Every screen is its registered SQL verbatim: blocklist hits, d7's
    // exact-dup text, d14's pair text (both spliced as subqueries — CTE
    // names stay scoped), the trainer chain for the quality keep.
    "pipe_ingest_gate" -> {
      val terms = graft.queries.TextOps.BlocklistTerms
        .map("'" + _ + "'").mkString(",")
      s"""WITH $qcCtesSql,
         |batchd AS (SELECT doc_id, text FROM documents
         |           WHERE source = '${DedupOps.IncomingSource}'),
         |bl AS (SELECT doc_id,
         |    len(list_intersect(string_split(text, ' '), [$terms])) > 0 AS blocked
         |  FROM batchd),
         |ex AS (SELECT doc_id, is_dup, dup_of AS exact_dup_of
         |       FROM (${DedupOps.d7OracleSql})),
         |ndp0 AS (SELECT doc_a, doc_b FROM (${DedupOps.d14OracleSql})),
         |srcp AS (SELECT doc_id AS partner, source AS p_src FROM documents),
         |ndp AS (SELECT u.doc_id, u.partner FROM (
         |          SELECT doc_a AS doc_id, doc_b AS partner FROM ndp0
         |          UNION ALL SELECT doc_b, doc_a FROM ndp0) u
         |        JOIN srcp USING (partner)
         |        WHERE p_src <> '${DedupOps.IncomingSource}' OR partner < u.doc_id),
         |nd AS (SELECT doc_id, min(partner) AS near_dup_of FROM ndp GROUP BY 1),
         |qcv AS (SELECT f.doc_id,
         |    (w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 >= 0) AS keep
         |  FROM f CROSS JOIN w$QcRounds w),
         |vd AS (SELECT b.doc_id,
         |    CASE WHEN bl.blocked THEN 'blocked'
         |         WHEN ex.is_dup THEN 'exact_dup'
         |         WHEN nd.near_dup_of IS NOT NULL THEN 'near_dup'
         |         WHEN NOT qcv.keep THEN 'low_quality'
         |         ELSE 'admitted' END AS verdict,
         |    ex.exact_dup_of, nd.near_dup_of
         |  FROM batchd b JOIN bl USING (doc_id) JOIN ex USING (doc_id)
         |  LEFT JOIN nd USING (doc_id) JOIN qcv USING (doc_id))
         |SELECT doc_id, verdict,
         |  CASE WHEN verdict = 'exact_dup' THEN exact_dup_of
         |       WHEN verdict = 'near_dup' THEN near_dup_of END AS dup_of
         |FROM vd""".stripMargin
    },
    // The same trainer chain; phases are rank cuts (ntile over the exact
    // integer z, ties to doc_id) — no value interpolation to drift.
    "tx_curriculum_buckets" ->
      s"""WITH $qcCtesSql,
         |sc AS (SELECT f.doc_id,
         |         w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 AS z,
         |         (w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 >= 0) AS keep
         |       FROM f CROSS JOIN w$QcRounds w),
         |ph AS (SELECT doc_id, z, keep,
         |         CAST(ntile($CurriculumPhases) OVER (ORDER BY z DESC, doc_id) AS INT) AS phase
         |       FROM sc)
         |SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM ph GROUP BY phase""".stripMargin,
    // The scale sibling's gate: sketch cut VALUES are run-varying, so
    // the oracle pins the exact totals and emits literal TRUE for every
    // property boolean — the engine side computes the properties
    // exactly against the data (the q_kll_quantiles discipline).
    "tx_curriculum_kll" ->
      s"""WITH $qcCtesSql,
         |sc AS (SELECT f.doc_id,
         |         w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 AS z,
         |         (w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 >= 0) AS keep
         |       FROM f CROSS JOIN w$QcRounds w),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |        FROM sc)
         |SELECT CAST(c.cut AS BIGINT) AS cut_pct, TRUE AS rank_ok,
         |  TRUE AS mono_ok, TRUE AS conserve_ok, tot.n_docs, tot.n_keep
         |FROM (VALUES (25), (50), (75)) c(cut) CROSS JOIN tot""".stripMargin,
    // Mirrors the scored-frame gates with the clean pipeline's own
    // precedence; the keeper election is cleanedSql's `k` stage keyed to
    // return the winner per hash.
    "pipe_drop_reasons" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tok,
         |      ${gramsSql(2)} AS g2 FROM t),
         |s AS (SELECT doc_id, n_tok,
         |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
         |      / CAST(len(g2) AS DOUBLE) AS dup2,
         |    md5(text) AS h FROM g),
         |k AS (SELECT h, min(doc_id) AS keeper FROM s
         |      WHERE n_tok >= 20 AND dup2 < 0.05 GROUP BY h)
         |SELECT s.doc_id,
         |  CASE WHEN s.n_tok < 20 THEN 'short'
         |       WHEN s.dup2 >= 0.05 THEN 'repetitive'
         |       WHEN s.doc_id <> k.keeper THEN 'exact_dup'
         |       ELSE 'kept' END AS reason,
         |  CASE WHEN s.n_tok >= 20 AND s.dup2 < 0.05 AND s.doc_id <> k.keeper
         |       THEN k.keeper END AS dup_of
         |FROM s LEFT JOIN k USING (h)""".stripMargin,
    // Cells from the shared cleaned-stage CTE; u rebuilt as the exact
    // dyadic (h + 0.5)/2^52 via a Horner fold over the 13 hex digits;
    // the Laplace inverse-CDF expression mirrors the engine term for
    // term (ln carries the accepted 1-ulp libm risk under micro-round).
    "pipe_dp_card" ->
      s"""WITH cl AS ($cleanedSql),
         |cells AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n
         |          FROM cl GROUP BY 1, 2),
         |nz AS (SELECT lang, split, n,
         |  (CAST(list_reduce(list_transform(
         |     string_split(substr(md5('$DpSeedDefault:' || lang || ':' || split), 1, 13), ''),
         |     ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT)),
         |     (a, b) -> a * 16 + b) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
         |  FROM cells)
         |SELECT lang, split,
         |  CAST(round((CAST(n AS DOUBLE)
         |    + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)))) * 1000000) AS BIGINT)
         |    AS noisy_count_micro
         |FROM nz""".stripMargin,
    "pipe_k_anonymity" ->
      s"""SELECT lang, source,
         |  CAST(n_chars // $KAnonCharBin AS BIGINT) AS len_bin,
         |  CAST(count(*) AS BIGINT) AS group_n,
         |  (count(*) < $KAnonK) AS at_risk
         |FROM documents GROUP BY 1, 2, 3""".stripMargin,
    // Mirrors driftPsiOf stage-for-stage: same binning, same Laplace
    // smoothing, same FIXED bin-order fold, micro-rounded outputs.
    "pipe_drift_psi" -> {
      val B = DriftNBins
      def foldSql(c: String) = (0 until B).map(i =>
        s"coalesce(max(CASE WHEN bin = $i THEN $c END), 0.0)")
        .mkString("\n    + ")
      s"""WITH t AS (SELECT lang,
         |    CASE WHEN source = '${DedupOps.IncomingSource}' THEN 'cur' ELSE 'ref' END AS phase,
         |    CAST(LEAST(floor((CASE WHEN trim(text) = '' THEN 0
         |        ELSE CAST(len($toksSql) AS INT) END) / ${DriftBinWidth}.0),
         |      ${B - 1}.0) AS BIGINT) AS bin
         |  FROM documents),
         |c AS (SELECT lang, phase, bin, CAST(count(*) AS BIGINT) AS cnt
         |      FROM t GROUP BY 1, 2, 3),
         |axis AS (SELECT l.lang, CAST(gs.b AS BIGINT) AS bin
         |  FROM (SELECT DISTINCT lang FROM t) l
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${B - 1})) AS b) gs),
         |cells AS (SELECT axis.lang, axis.bin,
         |    CAST(coalesce(r.cnt, 0) AS BIGINT) AS ref_cnt,
         |    CAST(coalesce(u.cnt, 0) AS BIGINT) AS cur_cnt
         |  FROM axis
         |  LEFT JOIN (SELECT lang, bin, cnt FROM c WHERE phase = 'ref') r USING (lang, bin)
         |  LEFT JOIN (SELECT lang, bin, cnt FROM c WHERE phase = 'cur') u USING (lang, bin)),
         |tot AS (SELECT lang, CAST(sum(ref_cnt) AS BIGINT) AS ref_n,
         |    CAST(sum(cur_cnt) AS BIGINT) AS cur_n FROM cells GROUP BY 1),
         |terms AS (SELECT cells.lang, cells.bin, tot.ref_n, tot.cur_n,
         |    (CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_n + $B AS DOUBLE)
         |     - CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_n + $B AS DOUBLE))
         |    * ln((CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_n + $B AS DOUBLE))
         |        / (CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_n + $B AS DOUBLE))) AS psi_t,
         |    abs(CAST(cur_cnt + 1 AS DOUBLE) / CAST(cur_n + $B AS DOUBLE)
         |        - CAST(ref_cnt + 1 AS DOUBLE) / CAST(ref_n + $B AS DOUBLE)) AS tvd_t
         |  FROM cells JOIN tot USING (lang))
         |SELECT lang, max(ref_n) AS ref_n, max(cur_n) AS cur_n,
         |  CAST(round((${foldSql("psi_t")}) * 1e6) AS BIGINT) AS psi_micro,
         |  CAST(round((${foldSql("tvd_t")}) * 0.5 * 1e6) AS BIGINT) AS tvd_micro
         |FROM terms GROUP BY lang""".stripMargin
    },
    // Composes the d2 pair oracle and the tx_split assignment verbatim.
    "pipe_split_leakage" ->
      s"""WITH pairs AS (${DedupOps.oracle("d2_minhash_lsh")}),
         |sp AS (${TextOps.oracle("tx_split")})
         |SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
         |FROM pairs p JOIN sp a ON a.doc_id = p.doc_a
         |JOIN sp b ON b.doc_id = p.doc_b
         |WHERE a.split <> b.split""".stripMargin,
    // Same per-pair cosine fold as the engine (SimilarityOps.cosineSql);
    // max over pairs is order-independent, so doubles compare exactly.
    "pipe_embed_contamination" ->
      s"""WITH ds AS (SELECT doc_id, source FROM documents),
         |e AS (SELECT vec_id AS doc_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |m AS (SELECT e.doc_id, e.v, ds.source FROM e JOIN ds USING (doc_id)),
         |bench AS (SELECT v AS bv FROM m WHERE source = '$BenchmarkSource'),
         |cand AS (SELECT doc_id, v FROM m WHERE source <> '$BenchmarkSource')
         |SELECT c.doc_id, max(${SimilarityOps.cosineSql("c.v", "b.bv")}) AS max_bench_cosine,
         |  max(${SimilarityOps.cosineSql("c.v", "b.bv")}) >= $EmbedContamTau AS contaminated
         |FROM cand c, bench b GROUP BY c.doc_id""".stripMargin,
    // Same predicates, same domains, same cents/date conventions as the
    // engine side; one UNION ALL row per check.
    "pipe_data_checks" ->
      """WITH da AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS dist_id,
        |    CAST(count(*) FILTER (text IS NULL OR n_chars <> len(text)) AS BIGINT) AS bad_text,
        |    CAST(count(*) FILTER (lang NOT IN ('en','de','fr','es','zh')) AS BIGINT) AS bad_lang,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS dist_lang,
        |    CAST(max(n_chars) AS BIGINT) AS max_chars
        |  FROM documents),
        |ea AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (event_type NOT IN ('view','click','purchase','signup','error')) AS BIGINT) AS bad_type,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS dist_type,
        |    CAST(count(*) FILTER (value IS NULL OR value < 0) AS BIGINT) AS bad_value,
        |    CAST(coalesce(min(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT) AS min_cents,
        |    CAST(count(*) FILTER (ts IS NULL
        |        OR CAST(ts AS TIMESTAMP) < TIMESTAMP '2020-01-01'
        |        OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2031-01-01') AS BIGINT) AS bad_ts,
        |    CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS n_days,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS dist_users
        |  FROM events),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans FROM events
        |  WHERE user_id NOT IN (SELECT c_custkey FROM customer))
        |SELECT 'doc_id_unique' AS "check", n AS n_rows, n - dist_id AS n_violations, dist_id AS observed FROM da
        |UNION ALL SELECT 'doc_text_consistent', n, bad_text, max_chars FROM da
        |UNION ALL SELECT 'doc_lang_domain', n, bad_lang, dist_lang FROM da
        |UNION ALL SELECT 'event_type_domain', n, bad_type, dist_type FROM ea
        |UNION ALL SELECT 'event_value_range', n, bad_value, min_cents FROM ea
        |UNION ALL SELECT 'event_ts_range', n, bad_ts, n_days FROM ea
        |UNION ALL SELECT 'event_user_ref', ea.n, orph.n_orphans, ea.dist_users FROM ea, orph""".stripMargin,
    // Same bucket SQL as tx_split, same token convention as tx_tokens.
    "pipe_dataset_stats" ->
      s"""WITH s AS (SELECT lang, source, n_chars,
         |    CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'valid'
         |         ELSE 'test' END AS split,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE len(string_split_regex(trim(text), '$Ws+')) END AS n_toks
         |  FROM (SELECT *,
         |      16 * (strpos('0123456789abcdef',
         |             substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 1)) - 1)
         |      + (strpos('0123456789abcdef',
         |             substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 2, 1)) - 1) AS b
         |    FROM documents) t)
         |SELECT split, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM s GROUP BY 1, 2""".stripMargin,
    "pipe_semdedup" ->
      s"""WITH ${SimilarityOps.kmeansCtesSql},
         |mm AS (SELECT af.vec_id, af.cluster, e.v FROM af JOIN e USING (vec_id)),
         |dup AS (SELECT DISTINCT a.vec_id
         |        FROM mm a JOIN mm b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
         |        WHERE ${SimilarityOps.cosineSql("a.v", "b.v")} >= $SemDedupTau)
         |SELECT mm.vec_id, mm.cluster, (dup.vec_id IS NOT NULL) AS is_dup
         |FROM mm LEFT JOIN dup USING (vec_id)""".stripMargin,
    "tx_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |    unnest(generate_series(0, (len(toks)-1)//$BoilerChunkWidth)) AS pos,
         |    unnest(list_transform(generate_series(0, (len(toks)-1)//$BoilerChunkWidth),
         |      i -> array_to_string(list_slice(toks,
         |             $BoilerChunkWidth*CAST(i AS INT)+1,
         |             $BoilerChunkWidth*CAST(i AS INT)+$BoilerChunkWidth), ' '))) AS chunk
         |  FROM t),
         |b AS (SELECT chunk FROM c GROUP BY chunk
         |      HAVING count(DISTINCT doc_id) >= $BoilerDocFreq),
         |k AS (SELECT * FROM c WHERE chunk NOT IN (SELECT chunk FROM b)),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |        md5(string_agg(chunk, ' ' ORDER BY pos)) AS cleaned_hash
         |      FROM k GROUP BY 1),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM c GROUP BY 1)
         |SELECT n.doc_id, n.n_chunks,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.cleaned_hash, md5('')) AS cleaned_hash
         |FROM n LEFT JOIN a USING (doc_id)""".stripMargin,
    "tx_keywords" ->
      s"""WITH tf AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |f AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
         |      FROM tf GROUP BY 1, 2),
         |d AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY 1)
         |SELECT doc_id, token, tf, df,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY tf DESC, df, token) AS INT) AS rank
         |FROM f JOIN d USING (token)
         |QUALIFY rank <= 3""".stripMargin,
    "tx_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(cnt) AS BIGINT) AS common_sum,
         |  CAST(sum(CASE WHEN cnt * $RareDenom < (SELECT total FROM t)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS rare_cnt,
         |  CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_commonness
         |FROM tok JOIN c USING (token) GROUP BY doc_id""".stripMargin,
    "tx_bm25" -> bm25Sql,
    // Counts/vocab mirror the engine aggregates; each term micro-rounds
    // before the (order-free) integer sum, so only one ln per occurrence
    // carries float at all.
    "tx_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(${gramsSql(2)}) AS bg FROM t
         |      WHERE len(toks) >= 2),
         |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM g GROUP BY 1),
         |w1s AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM g),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM w1s GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |      FROM (SELECT unnest(toks) AS tok FROM t)),
         |sc AS (SELECT doc_id,
         |    CAST(round(ln((CAST(c12.c12 AS DOUBLE) + 1.0)
         |      / (CAST(c1.c1 AS DOUBLE) + CAST((SELECT v FROM v) AS DOUBLE)))
         |      * 1000000) AS BIGINT) AS term
         |  FROM w1s JOIN c12 USING (bg) JOIN c1 USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(term) AS BIGINT) AS logp_total_micro,
         |  CAST(floor(CAST(sum(term) AS DOUBLE) / count(*)) AS BIGINT) AS avg_logp_micro
         |FROM sc GROUP BY doc_id""".stripMargin,
    // Shard nibble and pos key mirror the engine's md5 arithmetic; the
    // first-doc election is arg-min on the (unique) pos key; the share
    // uses d9's floor-micro form.
    "tx_shard_shuffle" ->
      s"""WITH b AS (SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(strpos('0123456789abcdef',
         |      substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INT) AS shard,
         |    md5('pos:' || CAST(doc_id AS VARCHAR)) AS pos_key
         |  FROM documents),
         |s AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS c
         |      FROM b GROUP BY 1, 2),
         |ss AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_sources,
         |       max(c) AS max_c FROM s GROUP BY 1),
         |m AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |       arg_min(doc_id, pos_key) AS first_doc
         |      FROM b GROUP BY 1)
         |SELECT m.shard, m.n_docs, m.n_tok, ss.n_sources,
         |  CAST(floor(ss.max_c * 1000000 / m.n_docs) AS BIGINT) AS max_source_share_micro,
         |  m.first_doc
         |FROM m JOIN ss USING (shard)""".stripMargin,
    // RRF fusion of the two arm rankings: lex = the bm25 SQL VERBATIM
    // (spliced, so the arms cannot drift), vec = the proven exact-cosine
    // ordering; each reciprocal is integer division (//) so fusion has
    // no float at all.
    "ann_hybrid_rrf" ->
      s"""WITH lex AS (SELECT * FROM ($bm25Sql)),
         |e AS (SELECT vec_id AS doc_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |qv AS (SELECT v AS qv FROM e WHERE doc_id = 0),
         |c AS (SELECT e.doc_id,
         |  list_reduce(list_transform(generate_series(1, len(e.v)),
         |      i -> e.v[CAST(i AS INT)] * qv.qv[CAST(i AS INT)]), (x, y) -> x + y)
         |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.v)),
         |        i -> e.v[CAST(i AS INT)] * e.v[CAST(i AS INT)]), (x, y) -> x + y))
         |     * sqrt(list_reduce(list_transform(generate_series(1, len(qv.qv)),
         |        i -> qv.qv[CAST(i AS INT)] * qv.qv[CAST(i AS INT)]), (x, y) -> x + y))) AS cosine
         |  FROM e, qv WHERE e.doc_id <> 0),
         |vr AS (SELECT doc_id, CAST(row_number() OVER (
         |         ORDER BY cosine DESC, doc_id) AS INT) AS vec_rank
         |       FROM c QUALIFY vec_rank <= $Bm25TopK),
         |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |        l.rank AS lex_rank, v.vec_rank,
         |        CAST(coalesce(1000000000 // ($RrfK + l.rank), 0)
         |           + coalesce(1000000000 // ($RrfK + v.vec_rank), 0) AS BIGINT) AS rrf_nano
         |      FROM lex l FULL OUTER JOIN vr v ON l.doc_id = v.doc_id)
         |SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY rrf_nano DESC, doc_id) AS INT) AS fused_rank,
         |  rrf_nano, lex_rank, vec_rank
         |FROM f QUALIFY fused_rank <= $HybridTopK""".stripMargin,
    "tx_contamination" ->
      s"""WITH g AS (SELECT doc_id, source, list_distinct(${gramsSql(ContamGramWidth)}) AS grams
         |  FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)),
         |bench AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE source = '$BenchmarkSource'),
         |cand AS (SELECT * FROM g WHERE source <> '$BenchmarkSource'),
         |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM (SELECT doc_id, unnest(grams) AS gr FROM cand) c JOIN bench USING (gr)
         |  GROUP BY 1)
         |SELECT c.doc_id, c.source, CAST(len(c.grams) AS INT) AS n_grams,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(len(c.grams) AS DOUBLE) AS contamination
         |FROM cand c LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "tx_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM t)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) AS dup2_frac,
         |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) AS dup3_frac,
         |  CAST(list_max(list_transform(list_distinct(toks),
         |      tk -> len(list_filter(toks, x -> x = tk)))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS top_tok_frac
         |FROM g""".stripMargin,
    "tx_vocab_topk" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok)
         |SELECT token, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) AS DOUBLE) / (SELECT total FROM tot) AS share
         |FROM tok GROUP BY token
         |ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "pipe_clean_corpus" ->
      s"""SELECT doc_id, lang, split FROM ($cleanedSql)""",
    // The release card composes the SAME stage texts: the clean stage's
    // CTE chain ($cleanedSql, shared with pipe_clean_corpus) and d2's
    // full pair SQL, so the release definition cannot drift from either
    // stage — mirroring the engine side, where both stages are served
    // from the session-materialized artifacts.
    "pipe_corpus_release" ->
      s"""WITH cleaned AS ($cleanedSql),
         |pairs AS (${DedupOps.oracle("d2_minhash_lsh")}),
         |leak AS (SELECT greatest(p.doc_a, p.doc_b) AS doc_id
         |  FROM pairs p
         |  JOIN cleaned a ON a.doc_id = p.doc_a
         |  JOIN cleaned b ON b.doc_id = p.doc_b
         |  WHERE a.split <> b.split
         |  GROUP BY 1),
         |released AS (SELECT * FROM cleaned
         |  WHERE doc_id NOT IN (SELECT doc_id FROM leak)),
         |drops AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_leak_dropped
         |  FROM cleaned WHERE doc_id IN (SELECT doc_id FROM leak) GROUP BY 1, 2),
         |card AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM released GROUP BY 1, 2)
         |SELECT c.split, c.lang, c.n_docs, c.n_tokens,
         |  CAST(coalesce(d.n_leak_dropped, 0) AS BIGINT) AS n_leak_dropped
         |FROM card c LEFT JOIN drops d ON c.split = d.split AND c.lang = d.lang""".stripMargin,
    "tx_sample_mix" -> {
      val rateCase = MixWeights.map { case (src, w) =>
        s"WHEN source = '$src' THEN $w"
      }.mkString("CASE ", " ", s" ELSE $DefaultMixWeight END")
      s"""SELECT doc_id, source, CAST($rateCase AS INT) AS rate
         |FROM (SELECT doc_id, source, text,
         |        16 * (strpos('0123456789abcdef',
         |               substr(md5(CAST(doc_id AS VARCHAR) || '#' || text), 1, 1)) - 1)
         |        + (strpos('0123456789abcdef',
         |               substr(md5(CAST(doc_id AS VARCHAR) || '#' || text), 2, 1)) - 1) AS bucket
         |      FROM documents)
         |WHERE bucket < $rateCase""".stripMargin
    },
    // Same integer-exact pipeline: self-correcting ⌊√c⌋, Hamilton
    // largest-remainder quotas (Σ quota == N), md5-order selection.
    "tx_temperature_mix" -> {
      val N = TempMixBudget
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1),
         |w AS (SELECT source, c,
         |    CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
         |    + (CASE WHEN (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1)
         |               * (CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) + 1) <= c
         |       THEN 1 ELSE 0 END)
         |    - (CASE WHEN CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)
         |               * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) > c
         |       THEN 1 ELSE 0 END) AS wgt
         |  FROM c),
         |q0 AS (SELECT source, wgt,
         |    ($N * wgt) // (sum(wgt) OVER ()) AS base,
         |    ($N * wgt) % (sum(wgt) OVER ()) AS rem
         |  FROM w),
         |q AS (SELECT source,
         |    base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
         |                 <= $N - sum(base) OVER () THEN 1 ELSE 0 END) AS quota
         |  FROM q0),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '~' || text), doc_id) AS rn
         |  FROM documents)
         |SELECT r.doc_id, r.source, CAST(q.quota AS BIGINT) AS quota
         |FROM r JOIN q ON r.source = q.source
         |WHERE r.rn <= q.quota""".stripMargin
    },
    "tx_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id % $PackShards AS shard,
         |    CASE WHEN trim(text) = '' THEN 0
         |         ELSE CAST(len($toksSql) AS INT) END AS n_tokens
         |  FROM documents),
         |o AS (SELECT doc_id, lang, shard, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |  FROM t)
         |SELECT doc_id, lang, shard, n_tokens, start_off,
         |  start_off // $ChunkTokens AS chunk_id,
         |  start_off % $ChunkTokens AS chunk_off
         |FROM o""".stripMargin,
    // Both batch assignments re-derived with the same (rn−1)//B windows;
    // pad arithmetic all integer.
    "tx_length_batching" ->
      s"""WITH t AS (SELECT doc_id, lang, doc_id % $PackShards AS shard,
         |    CASE WHEN trim(text) = '' THEN CAST(0 AS BIGINT)
         |         ELSE CAST(len($toksSql) AS BIGINT) END AS n_tokens
         |  FROM documents),
         |bl AS (SELECT lang, shard,
         |    CAST((row_number() OVER (PARTITION BY lang, shard
         |      ORDER BY n_tokens DESC, doc_id) - 1) // $BatchDocs AS INT) AS batch_idx,
         |    n_tokens FROM t),
         |gl AS (SELECT lang, shard, batch_idx,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |  FROM bl GROUP BY 1, 2, 3),
         |bn AS (SELECT lang, shard,
         |    CAST((row_number() OVER (PARTITION BY lang, shard
         |      ORDER BY doc_id) - 1) // $BatchDocs AS INT) AS batch_idx,
         |    n_tokens FROM t),
         |gn AS (SELECT lang, shard, batch_idx,
         |    CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
         |      AS pad_naive_tokens
         |  FROM bn GROUP BY 1, 2, 3)
         |SELECT gl.lang, gl.shard, gl.batch_idx, gl.n_docs, gl.max_tokens,
         |  gl.sum_tokens,
         |  CAST(gl.n_docs * gl.max_tokens - gl.sum_tokens AS BIGINT)
         |    AS pad_tokens,
         |  gn.pad_naive_tokens
         |FROM gl JOIN gn USING (lang, shard, batch_idx)""".stripMargin,
  )
}
