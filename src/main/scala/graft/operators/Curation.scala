package graft.operators

import graft.functions.TextStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import graft.operators.Checkpoints.materialized
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the LLM-data-pipeline surface: rule-based
  * quality gates, reproducible subsampling, per-source caps and repeated-span
  * statistics. These are the passes a 100 TB training-data build runs between
  * ingestion and tokenization; all of them are single-shuffle-or-less and
  * whole-stage-codegen friendly (builtin expressions only, no UDFs).
  */
object Curation {

  /** Md5-derived uniform fraction in [0, 1) for a key column — the portable
    * reproducible-sampling primitive. Hash-based sampling (rather than RNG
    * `sample()`) is how large pipelines subsample: the decision for a row is
    * a pure function of its key, so re-runs, retries and incremental builds
    * all agree on which rows are in. The md5 hex prefix gives 60 bits; any
    * engine with md5 reproduces the fraction bit-for-bit (same construction
    * as the portable SimHash in [[Dedup.simhashBuckets]]).
    */
  def hashFraction(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit((1L << 60).toDouble)

  /** Deterministic subsample: keep rows whose [[hashFraction]] over `idCol`
    * is below `fraction`. Map-only — no shuffle, no RNG state, stable across
    * cluster layouts and re-runs.
    */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.filter(hashFraction(col(idCol)) < fraction)

  /** Per-source document cap — the "per-domain cap" of web-corpus builds
    * (a handful of giant sources must not dominate the training mix). Keeps
    * at most `cap` documents per `sourceCol` value, chosen by hash order
    * (deterministic, unbiased by ingestion order) with the id as tiebreak.
    *
    * One shuffle on the source key. Source cardinality is typically millions
    * (domains), so the window partitions are small and skew-free; a
    * degenerate single-source corpus degrades to a single partition, which
    * is exactly the case where a cap this small means the output is tiny
    * anyway.
    */
  def perSourceCap(df: DataFrame, idCol: String, sourceCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(hashFraction(col(idCol)), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("bigint"))
      .filter(col("sample_rank") <= cap)
  }

  /** [[perSourceCap]] through the bounded [[graft.functions.SmallestK]]
    * heap aggregate instead of a row_number window — registered under the
    * SAME oracle as `curation_source_cap`, so the green row proves the two
    * forms equivalent. Same physics argument as
    * [[distinctiveKeywordsViaTopKAgg]], and it bites harder here: the cap
    * pass runs over the ENTIRE corpus, and the window form sorts every
    * document row of each source inside the exchange before discarding all
    * but `cap`, while the heap form partial-aggregates map-side so the
    * shuffle carries ≤ `cap` rows per (map task, source) — at a 100 TB
    * corpus with a 10k-doc domain cap that is the difference between
    * shuffling the corpus and shuffling ~the output.
    *
    * Output is (id, source, sample_rank) — the window form's extra
    * passthrough columns ride the kept struct at scale if needed.
    */
  def perSourceCapViaTopKAgg(df: DataFrame, idCol: String, sourceCol: String,
      cap: Int): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(graft.functions.TopK.smallestK(
        struct(hashFraction(col(idCol)).as("hf"), col(idCol).as("id")), cap).as("top"))
      .select(col(sourceCol), posexplode(col("top")))
      .select(col("col.id").as(idCol), col(sourceCol),
        (col("pos") + 1).cast("bigint").as("sample_rank"))

  /** The [[gopherFlags]] rule conjunction as ONE boolean column — the
    * filter-shaped form a projection that must keep its payload columns
    * applies directly. Same raw measurements, same bounds; CurationSpec
    * asserts it equal to `gopherFlags(...).quality_pass` row-for-row.
    */
  def gopherPass(textCol: Column,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaRatio: Double = 0.8, minStopwordHits: Int = 2): Column = {
    val words = split(trim(textCol), "\\s+")
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      size(words)
    val alphaRatio = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") /
      size(words)
    val stopHits = size(filter(words, w => array_contains(typedLit(stopwords), w)))
    size(words).between(minWords, maxWords) &&
      meanLen.between(minMeanWordLen, maxMeanWordLen) &&
      (alphaRatio >= minAlphaRatio) && (stopHits >= minStopwordHits)
  }

  /** Gopher-style rule-based quality flags (Rae et al. 2021, §A1.1.1 — the
    * published heuristics, re-expressed as codegen'd columns): word count
    * bounds, mean word length bounds, alphabetic-word ratio, minimum
    * stopword hits. Emits the measurements AND the individual flags so a
    * pipeline can tune thresholds without recomputing; `quality_pass` is the
    * conjunction. Pure map-side — zero shuffle.
    */
  def gopherFlags(
      docs: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaRatio: Double = 0.8, minStopwordHits: Int = 2): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    docs
      .select(col(idCol).as("doc_id"), words.as("words"))
      .select(
        col("doc_id"),
        size(col("words")).cast("bigint").as("n_words"),
        // mean word length over the whitespace tokens; 0 tokens → null
        (aggregate(col("words"), lit(0L), (acc, w) => acc + length(w)).cast("double") /
          size(col("words"))).as("mean_word_len_raw"),
        (size(filter(col("words"), w => w.rlike("[a-zA-Z]"))).cast("double") /
          size(col("words"))).as("alpha_ratio_raw"),
        size(filter(col("words"), w =>
          array_contains(typedLit(stopwords), w))).cast("bigint").as("stopword_hits"))
      .select(
        col("doc_id"), col("n_words"),
        round(col("mean_word_len_raw"), 4).as("mean_word_len"),
        round(col("alpha_ratio_raw"), 4).as("alpha_ratio"),
        col("stopword_hits"),
        col("n_words").between(minWords, maxWords).as("flag_word_count"),
        col("mean_word_len_raw").between(minMeanWordLen, maxMeanWordLen).as("flag_mean_word_len"),
        (col("alpha_ratio_raw") >= minAlphaRatio).as("flag_alpha_ratio"),
        (col("stopword_hits") >= minStopwordHits).as("flag_stopwords"))
      .withColumn("quality_pass",
        col("flag_word_count") && col("flag_mean_word_len") &&
          col("flag_alpha_ratio") && col("flag_stopwords"))
  }

  /** Corpus-trained unigram language-model score — the shape of CCNet's
    * perplexity-based quality filter (Wenzek et al. 2020), with the LM
    * trained ON the corpus itself (no external model ships with a zero-
    * egress engine): token negative log-likelihood under the corpus unigram
    * distribution, averaged per document. Boilerplate and template docs
    * score LOW (their tokens are corpus-frequent); rare-token noise scores
    * HIGH — threshold both tails. Also emits `min_tf`, the corpus frequency
    * of the document's rarest token (an integer-exact rarity signal).
    *
    * Determinism contract: per-token log-probs are rounded to 6 dp and
    * summed as `decimal(18,6)` — an order-free exact sum, so the result is
    * reproducible across partitionings and engines (the double `ln` is
    * computed on bit-identical inputs in IEEE double both sides).
    *
    * Scale shape: token explode → one count aggregation (map-side combine)
    * → equi-join tokens-to-counts (AQE broadcasts the vocab side when it
    * fits) → one per-doc aggregation. O(total tokens) shuffled narrow rows,
    * no all-pairs, no driver state.
    */
  def unigramLmScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(lower(trim(col(textCol))), " ")).as("token"))
    // persisted + eagerly counted: feeds BOTH the vocab count table and the
    // scoring join (lazy persist lets the two consumers race — see
    // Checkpoints.materialized)
    val t = materialized(toks)
    val counts = t.groupBy(col("token")).agg(count(lit(1)).as("tf_corpus"))
    val totals = counts.agg(sum(col("tf_corpus")).as("total"))
    t.join(counts, Seq("token"))
      .crossJoin(broadcast(totals))
      .withColumn("lp",
        round(log(col("tf_corpus").cast("double") / col("total")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("tf_corpus")).as("min_tf"),
        sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"), col("min_tf"),
        round((-col("sum_lp")).cast("double") / col("n_tokens"), 4).as("avg_nll"))
  }

  /** Corpus-trained BIGRAM language-model score — the context-model step
    * up from [[unigramLmScore]] (real perplexity filters are n-gram LMs;
    * CCNet's is a 5-gram KenLM). Per document: average negative
    * log-likelihood of its bigrams under add-one-smoothed corpus bigram
    * probabilities, P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V). Repetitive
    * boilerplate scores LOW (its bigrams are corpus-frequent); shuffled
    * or noisy token streams score HIGH even when their UNIGRAMS are
    * common — the signal the unigram score cannot see.
    *
    * Same determinism contract as the unigram score: per-bigram log-probs
    * are integer-ratio logs rounded to 6 dp and summed as decimal(18,6)
    * (order-free exact), so any engine reproduces the value bit-for-bit.
    *
    * Scale shape: bigrams are built MAP-SIDE per row (zip_with over two
    * array slices — no shuffle, no position window); the exploded bigram
    * table is persisted+counted (it feeds the bigram-count table, the
    * context-count table derived from it, and the scoring join). Two
    * keyed count aggregations + two equi-joins + one per-doc aggregation;
    * O(total bigrams) narrow rows, no all-pairs, no driver state.
    */
  def bigramLmScore(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(lower(trim(col(textCol))), " ").as("t"))
    val withBigrams = toks.select(col("doc_id"),
      zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)).as("bgs"),
      col("t"))
    // persist + eager count BEFORE the explode: the bigram expression must
    // not be re-inlined into a Generate-inferred scan filter (the
    // InferFiltersFromGenerate trap measured on the shingle operators)
    val m = materialized(withBigrams)
    val e = m.select(col("doc_id"), explode(col("bgs")).as("bg"))
    val bgCounts = e.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    // c(w1·) = occurrences of w1 as a bigram context — derived from the
    // bigram counts, not re-scanned
    val ctxCounts = bgCounts
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = m.select(explode(col("t")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    e.join(bgCounts, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        min(col("c2")).as("min_bigram_tf"),
        sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"), col("min_bigram_tf"),
        round((-col("sum_lp")).cast("double") / col("n_bigrams"), 4).as("avg_nll"))
  }

  /** GPT-style concat-and-chunk sequence packing: per source, documents in
    * id order are conceptually concatenated into one token stream and cut
    * every `budget` tokens — the standard pretraining packing (no padding
    * waste, documents straddle chunk boundaries). Emits, per document, the
    * first/last chunk it lands in and how many chunks it spans — the
    * shard-planning stat a tokenizer fleet partitions work by.
    *
    * `budget` should be a power of two (it is in practice: 1k/2k/4k/8k
    * context): division by a power of two is EXACT in IEEE double, so the
    * chunk ids are exact integers even at 100 TB cumulative token counts
    * (< 2^53). One shuffle (window partitioned by source, ordered by id).
    * A degenerate single-source corpus serializes its running sum through
    * one partition — same tradeoff, and same two-phase fix, as the
    * documented global-window id assigner ([[graft.operators.Ids]]).
    */
  def packChunks(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        TextStats.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("cum_before") / budget).as("chunk_first"),
        // last token of the doc sits at cum_before + n_tokens - 1; an empty
        // doc spans nothing and stays in its boundary chunk
        floor((col("cum_before") + greatest(col("n_tokens"), lit(1L)) - 1) / budget)
          .as("chunk_last"))
      .withColumn("n_chunks", col("chunk_last") - col("chunk_first") + 1)
  }

  /** Source-mixture sampling to a token budget — the "data mixing" pass of
    * a pretraining build: each source gets a share of `tokenBudget`
    * proportional to its weight, and is hash-downsampled ([[hashFraction]] —
    * pure function of the row key, so re-runs and other engines agree
    * row-for-row) to approximately that many tokens. A source smaller than
    * its share is kept whole (`keep_frac` capped at 1) — the standard
    * under-sized-source behavior (upsampling is a repeat pass, not a
    * sampling pass).
    *
    * `weight` must be a function of `sourceCol` alone and INTEGER-VALUED
    * (cast to double): the weight sum is then exact in IEEE double
    * regardless of aggregation order, which keeps `keep_frac` — and
    * therefore the kept-row set — deterministic across partitionings and
    * engines.
    *
    * Scale shape: one per-source aggregation (tiny result: one row per
    * source), one broadcast join back, one map-side hash filter. The
    * document table is never shuffled.
    */
  def sourceMix(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, weight: Column, tokenBudget: Long): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      TextStats.tokenCount(col(textCol)).cast("bigint").as("n_tokens"),
      weight.cast("double").as("w"))
    val tot = base.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"), max(col("w")).as("w"))
    val sumw = tot.agg(sum(col("w")).as("sum_w"))
    val frac = tot.crossJoin(broadcast(sumw))
      .select(col("source"),
        least(lit(1.0), col("w") / col("sum_w") * tokenBudget / col("src_tokens"))
          .as("keep_frac"))
    base.join(broadcast(frac), Seq("source"))
      .filter(hashFraction(col("doc_id")) < col("keep_frac"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("keep_frac"), 6).as("keep_frac"))
  }

  /** Temperature-scaled source mixing at T = 2 — the data-mixing knob of
    * pretraining recipes (sampling sources ∝ share^(1/T) flattens the mix:
    * giant sources are downweighted, tail sources upweighted, T→∞ is
    * uniform). Weights derive from the corpus itself: w_s =
    * ⌊√(tokens_s)⌋ — INTEGER-floored, so the weight sum is exact in any
    * aggregation order, and √ on a <2^53 integer is a single IEEE-exact
    * operation, which keeps the whole quota chain (and so the kept-row
    * set) bit-reproducible across engines. T = 2 is the specific
    * temperature where that exactness is free; other temperatures need
    * `pow` and land in cross-libm territory.
    *
    * Same plan as [[sourceMix]]: one tiny per-source agg, one broadcast
    * join, map-side hash filter — the corpus is never shuffled.
    */
  def sourceMixTemperature2(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, tokenBudget: Long): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      TextStats.tokenCount(col(textCol)).cast("bigint").as("n_tokens"))
    val tot = base.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("w", floor(sqrt(col("src_tokens").cast("double"))).cast("bigint"))
    val sumw = tot.agg(sum(col("w")).as("sum_w"))
    val frac = tot.crossJoin(broadcast(sumw))
      .select(col("source"),
        least(lit(1.0),
          col("w").cast("double") / col("sum_w") * tokenBudget / col("src_tokens"))
          .as("keep_frac"))
    base.join(broadcast(frac), Seq("source"))
      .filter(hashFraction(col("doc_id")) < col("keep_frac"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("keep_frac"), 6).as("keep_frac"))
  }

  /** Source upsampling — the repeat pass [[sourceMix]] defers to for
    * under-sized sources: emit each document `repeats` times with an
    * `epoch` column (1..n), so a tail source can appear multiple times in
    * the training mix while the loader still distinguishes the copies
    * (epoch-aware shuffling, loss masking, dedup exclusion all key on it).
    * `repeats` must be a positive integer column, typically a function of
    * the source. Map-only row explosion — no shuffle; output size is the
    * weighted corpus, which is the point.
    */
  def upsampleRepeats(docs: DataFrame, repeats: Column): DataFrame =
    docs.withColumn("epoch", explode(sequence(lit(1), repeats.cast("int"))))

  /** Distinctive keywords per document: top-`k` tokens by in-document term
    * frequency, EXCLUDING corpus-common tokens (document frequency above
    * `maxDfFrac` of the corpus — statistics-driven stopword removal, the
    * df-cap half of tf-idf kept integer-exact so any engine reproduces the
    * ranking bit-for-bit; tf desc, token asc tiebreak).
    *
    * Scale shape: explode → per-(doc, token) count → per-token doc
    * frequency (both with map-side combine) → semi-join back (AQE
    * broadcasts the kept-vocab side when small) → per-doc top-k window.
    * All keyed shuffles, no all-pairs.
    */
  def distinctiveKeywords(docs: DataFrame, textCol: String, idCol: String,
      k: Int, maxDfFrac: Double, minLen: Int = 3): DataFrame = {
    val tf = dfCappedTf(docs, textCol, idCol, maxDfFrac, minLen)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("token"))
    tf.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"))
  }

  /** [[distinctiveKeywords]] through the bounded [[graft.functions.SmallestK]]
    * heap aggregate instead of a row_number window. Identical output
    * (`text_keywords_topk` ships under the SAME oracle as `text_keywords`),
    * different physics: the window form sorts EVERY (doc, token) row in
    * each shuffle partition and then discards all but k; the aggregate
    * keeps a k-element heap per doc WITH map-side partial aggregation, so
    * the exchange carries ≤ k rows per (map task, doc) and nothing larger
    * than k is ever sorted. At 100 TB that is the difference between
    * sorting the token table and streaming it once.
    */
  def distinctiveKeywordsViaTopKAgg(docs: DataFrame, textCol: String, idCol: String,
      k: Int, maxDfFrac: Double, minLen: Int = 3): DataFrame = {
    val tf = dfCappedTf(docs, textCol, idCol, maxDfFrac, minLen)
    // struct ordering is field-by-field: -tf ascending = tf descending,
    // token ascending tiebreak — same total order as the window form
    tf.groupBy(col("doc_id"))
      .agg(graft.functions.TopK.smallestK(
        struct((-col("tf")).as("neg_tf"), col("token"), col("tf")), k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.token").as("token"), col("col.tf").as("tf"))
  }

  /** Shared head of the keyword queries: per-(doc, token) term frequencies
    * with corpus-common tokens removed (document frequency above
    * `maxDfFrac`). The tf frame feeds BOTH the doc-frequency table and the
    * ranking stage — persist + eager count (Checkpoints.materialized shape).
    */
  private def dfCappedTf(docs: DataFrame, textCol: String, idCol: String,
      maxDfFrac: Double, minLen: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), " ")).as("token"))
      .filter(length(col("token")) >= minLen)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")).persist()
    tf.count()
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val keep = dfreq.crossJoin(broadcast(nDocs))
      .filter(col("df") <= col("n_docs") * maxDfFrac)
      .select(col("token"))
    tf.join(keep, Seq("token"))
  }

  /** Deterministic shuffle-and-shard export — the last pass of a training-
    * data build: deal documents into `nShards` shards pseudo-randomly and
    * give each a position within its shard, so shard files can be written
    * (and later streamed by a trainer) in a globally-shuffled order that is
    * a pure function of the data. Shard = md5-derived integer mod nShards
    * (integer-exact, any engine agrees); position = rank by the md5 hex
    * within the shard, id tiebreak. This replaces `orderBy(rand())` — whose
    * output depends on seed plumbing, partition layout and Spark version —
    * with a reproducible global shuffle.
    *
    * Scale shape: one shuffle on the shard id (nShards partitions); the
    * within-shard sort is exactly the sort a sharded writer needs anyway,
    * so `df.repartition(col("shard")).sortWithinPartitions("shard_pos")`
    * writes trainer-ready shard files with no extra exchange. Shard sizes
    * are multinomial-uniform (md5), so no skew beyond sqrt-n noise.
    */
  def shuffledShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val hex = md5(col(idCol).cast("string").cast("binary"))
    val key = conv(substring(hex, 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shuffle_key", hex)
      .withColumn("shard", (key % nShards).cast("int"))
      .withColumn("shard_pos", row_number().over(w).cast("bigint"))
  }

  /** EPOCH-aware reshuffle — the per-epoch deterministic permutation a
    * training loader needs: each epoch must see the corpus in a
    * DIFFERENT order, every rerun of the same epoch must see the SAME
    * order, and nothing may globally sort. Key = md5(epoch, id): one
    * epoch's layout is uncorrelated with the next by construction, and
    * the draw is a pure function of (data, epoch) — the
    * [[sampleByHash]] reproducibility argument ported to ordering, so
    * a resumed job, a retry, or another engine lays out the identical
    * epoch. Position is per-SHARD (bounded window partitions), the
    * [[shuffledShards]] shape.
    */
  def epochShards(df: DataFrame, idCol: String, nShards: Int,
      epoch: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val hex = md5(concat(lit(epoch.toString), lit("_"),
      col(idCol).cast("string")).cast("binary"))
    val key = conv(substring(hex, 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shuffle_key", hex)
      .withColumn("shard", (key % nShards).cast("int"))
      .withColumn("shard_pos", row_number().over(w).cast("bigint"))
      .withColumn("epoch", lit(epoch))
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006):
    * keep the k rows with the LARGEST u^(1/w), where u is the row's
    * [[hashFraction]] and w its weight — inclusion probabilities
    * proportional to weight, in one pass, no RNG state. The published ES
    * scheme expects u ~ Uniform(0,1); deriving u from the md5 of the key
    * keeps the whole draw a pure function of the data (the same
    * reproducibility argument as [[sampleByHash]]), so re-runs, retries and
    * other engines select the identical sample.
    *
    * The canonical curation use is w = token count: a token-budget
    * subsample where a document's chance of inclusion matches its share of
    * the training tokens, rather than flat per-doc odds that overweight
    * short documents.
    *
    * Plan shape: the key is map-side arithmetic; the global top-k plans as
    * `TakeOrderedAndProject` — each task keeps its local k, the driver
    * merges task heads, nothing resembling a global sort. At 100 TB this
    * is the same physics as any top-k: shuffle volume k per task.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame =
    df.withColumn("es_key", pow(hashFraction(col(idCol)), lit(1.0) / weight))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)

  /** Exact heavy hitters by the two-pass sketch-then-verify pattern: which
    * items (tokens, domains, user agents) exceed `minShare` of all
    * occurrences — answered EXACTLY without ever shuffling the full item
    * domain. Pass 1 runs the bounded [[graft.functions.MisraGries]] summary
    * (k counters per task, merged map-side) alongside the total count in ONE
    * aggregate; its completeness guarantee (any item above N/(k+1) survives)
    * makes the ≤ k candidates a superset of every qualifying item whenever
    * `minShare > 1/(k+1)` — enforced here. Pass 2 broadcast-semi-joins the
    * occurrence stream down to candidates and counts those exactly.
    *
    * The output is therefore EXACT (the sketch only prunes), which is what
    * lets a DuckDB oracle check it row-for-row — and what a 100 TB corpus
    * audit wants: `groupBy(item).count()` shuffles billions of distinct
    * tokens to answer a question about the top dozen; this ships k counters
    * per task plus one broadcast of ≤ k candidates.
    *
    * `items` is one row per occurrence (pre-exploded; callers persist it —
    * it feeds both passes).
    */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int,
      minShare: Double): DataFrame = {
    require(minShare * (k + 1) > 1,
      s"completeness needs minShare > 1/(k+1): minShare=$minShare k=$k")
    // one-row frame feeding both the candidate list and the total: persist
    // and materialize once, or both consumers re-run the sketch scan
    val pass1 = items.agg(
      graft.functions.MisraGries.freqItemsMg(col(itemCol), k).as("summary"),
      count(lit(1)).as("n_total")).persist()
    pass1.count()
    val candidates = pass1.select(explode(col("summary.item")).as(itemCol))
    items.join(broadcast(candidates), itemCol)
      .groupBy(col(itemCol)).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(pass1.select(col("n_total"))))
      .filter(col("cnt") > col("n_total") * minShare)
  }

  /** Per-group [[heavyHitters]]: which items exceed `minShare` of THEIR
    * GROUP's occurrences (per-domain dominant tokens, per-language boiler-
    * plate). Same two-pass physics with the sketch keyed by the group —
    * the [[graft.functions.MisraGries]] buffer merges per (task, group) so
    * the exchange carries k counters per group per task, and the exact
    * recount touches only candidate (group, item) pairs. Completeness is
    * per group: `minShare > 1/(k+1)` of the group's own total.
    */
  def heavyHittersPerGroup(items: DataFrame, itemCol: String, groupCol: String,
      k: Int, minShare: Double): DataFrame = {
    require(minShare * (k + 1) > 1,
      s"completeness needs minShare > 1/(k+1): minShare=$minShare k=$k")
    val pass1 = items.groupBy(col(groupCol)).agg(
      graft.functions.MisraGries.freqItemsMg(col(itemCol), k).as("summary"),
      count(lit(1)).as("n_total")).persist()
    pass1.count()
    val candidates = pass1
      .select(col(groupCol), explode(col("summary.item")).as(itemCol))
    items.join(broadcast(candidates), Seq(groupCol, itemCol))
      .groupBy(col(groupCol), col(itemCol)).agg(count(lit(1)).as("cnt"))
      .join(broadcast(pass1.select(col(groupCol), col("n_total"))), Seq(groupCol))
      .filter(col("cnt") > col("n_total") * minShare)
  }

  /** Exact stratified train/val/test split — the evaluation-hygiene pass of
    * a training-data build: within every stratum (source/domain/language),
    * rows are ranked by their md5 hex (a reproducible pseudo-random order,
    * id tiebreak — same construction as [[shuffledShards]]) and the first
    * ⌊n·testFrac⌋ become `test`, the next rows through ⌊n·(testFrac+valFrac)⌋
    * become `val`, the rest `train`. Unlike a plain [[hashFraction]]
    * threshold (per-stratum proportions only in expectation), the rank/count
    * form hits the requested proportions EXACTLY per stratum, which is what
    * a holdout set sliced from a skewed source mix needs. The assignment is
    * a pure function of the data: re-runs, retries and other engines agree
    * row-for-row, and a document can never migrate between train and test
    * across incremental rebuilds of the same snapshot.
    *
    * Plan shape: one shuffle on the stratum key; the rank window and the
    * per-stratum count window share that partitioning, so Catalyst runs
    * both in a single exchange. Stratum cardinality is domains/languages
    * (small groups, many of them) — the per-group sort is the same cost
    * class as [[perSourceCap]]. A window over a DEGENERATE stratum would
    * serialize its whole group through one task, so strata above
    * `exactMaxRows` automatically switch to the [[hashFraction]]-threshold
    * split instead — map-only, exact in expectation (their `split_rank` is
    * NULL: no rank was computed, and a non-null rank would falsely promise
    * the exact-count cut). Detecting them costs one map-side-combined
    * count aggregate over the input; the collected giant list is bounded
    * by n/exactMaxRows rows. The default threshold (10M rows in one
    * stratum) is far above any fixture and well past where a single-task
    * sort stops being reasonable.
    */
  def stratifiedSplit(df: DataFrame, idCol: String, strataCol: String,
      testFrac: Double, valFrac: Double,
      exactMaxRows: Long = 10000000L): DataFrame = {
    require(testFrac >= 0 && valFrac >= 0 && testFrac + valFrac < 1,
      "fractions must be non-negative and sum below 1")
    require(exactMaxRows > 0, "exactMaxRows must be positive")

    def exact(part: DataFrame): DataFrame = {
      val hex = md5(col(idCol).cast("string").cast("binary"))
      val rankW = Window.partitionBy(col(strataCol)).orderBy(col("__hex"), col(idCol))
      val cntW = Window.partitionBy(col(strataCol))
      part.withColumn("__hex", hex)
        .withColumn("split_rank", row_number().over(rankW).cast("bigint"))
        .withColumn("n_stratum", count(lit(1)).over(cntW))
        .withColumn("split",
          when(col("split_rank") <= floor(col("n_stratum") * testFrac), "test")
            .when(col("split_rank") <= floor(col("n_stratum") * (testFrac + valFrac)),
              "val")
            .otherwise("train"))
        .drop("__hex")
    }

    def hashSplit(part: DataFrame, nStratum: Column): DataFrame = {
      val frac = hashFraction(col(idCol))
      part.withColumn("split_rank", lit(null).cast("bigint"))
        .withColumn("n_stratum", nStratum)
        .withColumn("split",
          when(frac < testFrac, "test")
            .when(frac < testFrac + valFrac, "val")
            .otherwise("train"))
    }

    val giant = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > exactMaxRows).collect()
    if (giant.isEmpty) exact(df)
    else if (giant.length <= BroadcastGiantsAbove) {
      // null-safe membership: a null-keyed stratum is a group like any
      // other and must not silently fall out of BOTH branches
      val isGiant = giant.map(r => col(strataCol) <=> lit(r.get(0))).reduce(_ || _)
      val nStratum = giant.foldLeft(lit(null).cast("bigint")) { (acc, r) =>
        when(col(strataCol) <=> lit(r.get(0)), lit(r.getLong(1))).otherwise(acc)
      }
      exact(df.filter(!isGiant)).unionByName(hashSplit(df.filter(isGiant), nStratum))
    } else {
      // thousands of giant strata: one when/|| node per giant would blow
      // up the expression tree and codegen — membership becomes a
      // null-safe broadcast join against the collected giant set instead
      // (bounded by n/exactMaxRows rows, so always broadcastable)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val schema = StructType(Seq(
        df.schema(strataCol).copy(name = "__gs", nullable = true),
        StructField("__gn", LongType)))
      val gdf = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(giant.map(r => Row(r.get(0), r.getLong(1))): _*),
        schema)
      val joined = df.join(broadcast(gdf), col(strataCol) <=> col("__gs"), "left")
      exact(joined.filter(col("__gn").isNull).drop("__gs", "__gn"))
        .unionByName(hashSplit(
          joined.filter(col("__gn").isNotNull), col("__gn")).drop("__gs", "__gn"))
    }
  }

  /** Above this many giant strata the membership check switches from a
    * folded expression chain to a broadcast join — the chain is cheaper
    * to plan for a handful, the join is the only sane form for thousands.
    */
  private val BroadcastGiantsAbove = 64

  /** Group-aware train/val/test split — the leakage-free-by-construction
    * form of [[stratifiedSplit]]: the split decision hashes the near-dup
    * CLUSTER id, so every member of a duplicate cluster lands in the same
    * split and the leakage `curation_split_leakage` audits cannot exist.
    * Takes (doc_id, cluster_id) assignments (e.g.
    * [[Dedup.clusterAssignments]]'s output; singletons carry their own id)
    * and decides splits with the portable [[hashFraction]] — map-only over
    * the assignment frame, deterministic on any engine, unbiased by
    * ingestion order. Fractions are expectations over the hash, not exact
    * per-stratum counts — the price of the no-leakage guarantee (a cluster
    * is indivisible, so exact stratification is impossible anyway).
    */
  def groupAwareSplit(assignments: DataFrame, testFrac: Double,
      valFrac: Double): DataFrame = {
    require(testFrac >= 0 && valFrac >= 0 && testFrac + valFrac < 1,
      "fractions must be non-negative and sum below 1")
    val frac = hashFraction(col("cluster_id"))
    assignments.withColumn("split",
      when(frac < testFrac, "test")
        .when(frac < testFrac + valFrac, "val")
        .otherwise("train"))
  }

  /** Sliding-window token chunking — the embedding/RAG chunk pass: each
    * document's whitespace tokens are cut into windows of `size` tokens
    * advancing by `stride` (overlap = size − stride keeps context across
    * boundaries). Distinct from [[packChunks]], which packs MANY docs into
    * fixed budgets for pretraining; this splits EACH doc for retrieval
    * indexing, and its output feeds [[Multimodal.featureStub]]-style
    * embedding + the [[Similarity]] operators downstream.
    *
    * Chunk starts are 0, stride, 2·stride, … while start < n (every token
    * lands in ≥1 chunk; a final short window is emitted rather than
    * dropping the tail). Map-only: project tokens once, explode the
    * per-doc start sequence, slice — zero shuffle, and the chunk count per
    * doc is ⌈max(n−size+stride, 1)/stride⌉ rows, bounded and predictable
    * at 100 TB.
    */
  def slidingChunks(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got chunkTokens=$chunkTokens stride=$stride")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    // chunk starts 0, stride, 2·stride, … while start < n — ⌈(n−size+stride)/stride⌉
    // of them, min 1 so an empty doc still emits its (empty) chunk row
    val nStarts = greatest(
      ceil((size(col("toks")) - lit(chunkTokens) + lit(stride)).cast("double") / stride),
      lit(1)).cast("int")
    toks
      .select(col("doc_id"),
        posexplode(sequence(lit(0), nStarts - 1)), col("toks"))
      .select(col("doc_id"), col("pos").cast("bigint").as("chunk_id"),
        slice(col("toks"), col("col") * stride + 1, lit(chunkTokens)).as("chunk_toks"))
      .select(col("doc_id"), col("chunk_id"),
        array_join(col("chunk_toks"), " ").as("chunk_text"),
        size(filter(col("chunk_toks"), t => length(t) > 0)).cast("bigint")
          .as("n_tokens"))
  }

  /** Per-document repeated-span statistics — the substring-level dedup
    * signal of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2021), at word n-gram granularity: a span is "duplicated"
    * when its n-gram occurs in at least `minDocs` DISTINCT documents.
    * Reports, per document, how many of its distinct spans are
    * corpus-duplicated and the ratio — the score a removal/trim pass
    * thresholds on.
    *
    * Cost shape: one explode + one aggregation on the span key (map-side
    * combine collapses each document's duplicate spans before the shuffle),
    * then one co-partitioned join back. No all-pairs anything; at 100 TB the
    * shuffle carries O(total distinct spans) narrow rows. The span table
    * reuses [[Dedup.shingled]], so the tokenizer stays a bound attribute
    * (perf trap: re-inlined regex).
    */
  def repeatedSpanStats(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, minDocs: Int): DataFrame = {
    // Persisted + eagerly counted before the explode and the sizes branch:
    // without the cache boundary InferFiltersFromGenerate pushes
    // `size(spans) > 0` past the projections and the whole span expression
    // is re-evaluated (twice per row, interpreted, on the un-repartitioned
    // scan split) inside the scan Filter — measured 11 s of the query's
    // 12 s at sf0.1. (The old 0.5 s bench reading was an artifact of
    // count()-time join elimination, not of this pipeline being cheap —
    // see Bench.timeOnce.)
    val sh = materialized(
      Dedup.shingled(Dedup.spread(docs, idCol), textCol, idCol, n))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("span"))
    // distinct-doc count per span; shingles are distinct within a doc, so
    // count(*) IS the distinct-document frequency — no countDistinct needed
    val hot = ex.groupBy(col("span")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("span"))
    val perDoc = ex.join(hot, Seq("span"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    sh.select(col("doc_id"), size(col("shingles")).cast("bigint").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          round(coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"), 6))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank the
    * corpus by its LM score and cut it into head / middle / tail thirds —
    * head (lowest perplexity) feeds pretraining as-is, middle is kept,
    * tail is the usual discard. Buckets come from TWO TERCILE CUT POINTS
    * (a 1-row broadcast) compared map-side — not from `ntile` over a
    * global window, which would serialize the corpus through one
    * partition (the same two-pass-agg-plus-broadcast stance as
    * `w4_zscore`). Boundary docs land deterministically: `avg_nll` is a
    * 4-dp-rounded double and the comparison runs on bit-identical values
    * in any engine.
    *
    * Exact `percentile` buffers the per-doc scores in one aggregation
    * buffer; at extreme corpus sizes swap to `approx_percentile`
    * (mergeable t-digest) and drop the oracle to a bound check, as
    * `text_length_quantiles_approx` does.
    */
  def ccnetBuckets(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // persisted + eagerly counted: BOTH the cut-point aggregate and the
    // final bucketing consume the scored frame, and without the boundary
    // the whole unigram-LM pipeline (counts join + per-doc aggregation)
    // runs twice (the file's standard double-consumer rule)
    val scored = unigramLmScore(docs, textCol, idCol)
      .select(col("doc_id"), col("avg_nll"))
      .persist()
    scored.count()
    // 1/3 and 2/3 as shortest-repr double literals: the SQL oracle carries
    // the same decimal strings, so both engines interpolate from the
    // identical fraction
    val cuts = scored.agg(
      expr("percentile(avg_nll, 0.3333333333333333)").as("c1"),
      expr("percentile(avg_nll, 0.6666666666666666)").as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll") <= col("c1"), "head")
          .when(col("avg_nll") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR — data selection with importance resampling (Xie et al. 2023):
    * score every document by how much more likely its hashed-bigram
    * features are under a TARGET distribution (the high-quality subset
    * you want more of) than under the raw-corpus distribution, then keep
    * the top slice. Feature space = word bigrams hashed into `buckets`
    * counters (the paper's hashed n-gram generative model); per-bucket
    * log-likelihood ratio uses add-one smoothing on both sides; a
    * document's log importance weight is the sum over its features (with
    * multiplicity).
    *
    * Deviation from the paper, by the registry's determinism convention:
    * selection is the deterministic top `1 − keepQuantile` slice by
    * weight (threshold = an exact percentile, broadcast as a 1-row
    * scalar) rather than Gumbel-noise resampling — the same
    * hash-derived-over-RNG stance as [[sampleByHash]] / [[weightedSample]].
    * Feature hashing is the portable md5-prefix construction
    * ([[hashFraction]]), so any engine reproduces bucket ids exactly.
    *
    * Scale shape: explode → bucket-count aggregations (map-side combine)
    * over a FIXED `buckets`-sized key space; the per-bucket weight table
    * (≤ `buckets` rows) broadcasts into the scoring join; one per-doc
    * aggregation. No all-pairs, no driver state, O(total bigrams) narrow
    * rows — the paper's own selling point (hashed features keep the model
    * O(buckets)) is exactly what keeps the Spark plan shuffle-light.
    */
  def dsirLogWeights(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 1024,
      keepQuantile: Double = 0.8): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
        split(lower(trim(col(textCol))), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_target"),
        graft.functions.TextStats.bigramsOf(col("t")).as("bgs"))
    // persisted + eagerly counted BEFORE the explode (the
    // InferFiltersFromGenerate trap): the feature table feeds the
    // source/target counts, the totals and the scoring join
    val f = {
      val m = materialized(base)
      val e = m.select(col("doc_id"), col("is_target"),
          explode(col("bgs")).as("bg"))
        .select(col("doc_id"), col("is_target"),
          (conv(substring(md5(col("bg").cast("binary")), 1, 15), 16, 10)
            .cast("long") % buckets).as("b"))
        .persist()
      e.count()
      e
    }
    val cs = f.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val ct = f.filter(col("is_target")).groupBy(col("b"))
      .agg(count(lit(1)).as("ct"))
    val tots = f.agg(count(lit(1)).as("ts"),
      sum(when(col("is_target"), lit(1L)).otherwise(lit(0L))).as("tt"))
    val lw = cs.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("b"), round(log(
          ((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(buckets)))
            / ((col("cs") + lit(1.0)) / (col("ts") + lit(buckets)))),
        6).cast("decimal(18,6)").as("lw"))
    val dw = f.join(broadcast(lw), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lw")).as("s"))
      .select(col("doc_id"), col("n_feats"),
        col("s").cast("double").as("log_w"))
    val cut = dw.agg(expr(s"percentile(log_w, $keepQuantile)").as("cut"))
    dw.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_feats"), col("log_w"),
        (col("log_w") >= col("cut")).as("selected"))
  }

  /** Duplicated-span CUT LISTS — the actionable half of exact substring
    * dedup (Lee et al. 2021 "Deduplicating Training Data Makes Language
    * Models Better" removes every duplicated substring ≥ 50 tokens;
    * [[repeatedSpanStats]] reports the per-doc signal, this emits the
    * spans to remove). A token position is "duplicated" when its
    * word-`n`-gram occurs ≥ `minOccurrences` times corpus-wide (within- or
    * cross-document — self-repeats are duplication too); consecutive
    * duplicated positions merge into maximal runs (gaps-and-islands), and
    * runs covering ≥ `minSpanTokens` tokens are the cut list a rewrite
    * pass applies.
    *
    * Scale shape: positional shingles explode once (O(total tokens) narrow
    * rows); the hot-gram table is one count aggregation + HAVING (map-side
    * combine, never the token domain per doc); the semi-join back is
    * keyed; the run merge is a per-document window (positions of ONE doc —
    * bounded partitions). The suffix-array construction the paper uses is
    * a single-machine algorithm; gram-granular runs are the
    * embarrassingly-parallel equivalent, at the cost of `n`−1 tokens of
    * boundary resolution (a run's first/last gram overhangs the true
    * duplicated substring by < `n` tokens).
    */
  def duplicatedSpanCuts(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 4, minOccurrences: Int = 2, minSpanTokens: Int = 8): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => struct(i.as("i"),
            array_join(slice(col("t"), i, lit(n)), " ").as("g"))).as("sh"))
    // persisted + eagerly counted BEFORE the explode (the
    // InferFiltersFromGenerate trap); the gram table feeds the hot-gram
    // counts and the positional semi-join
    val f = {
      val m = materialized(toks)
      val e = m.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("s.i").as("i"), col("s.g").as("g"))
        .persist()
      e.count()
      e
    }
    val hot = f.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("g"))
    val dup = f.join(hot, Seq("g")).select(col("doc_id"), col("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    dup
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).cast("bigint").as("start_pos"),
        (max(col("i")) + (n - 1)).cast("bigint").as("end_pos"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  /** The rewrite half of exact substring dedup: drop every token covered
    * by a [[duplicatedSpanCuts]] span and re-join the survivors — Lee et
    * al. 2021's "remove the duplicated substring" applied as a Spark
    * pass. Docs without cuts pass through verbatim (left join + null
    * guard), so the output is the full corpus, cleaned.
    *
    * Scale shape: cut lists aggregate to one spans-array row per affected
    * doc (a handful of structs — runs, not positions), the join is keyed
    * on doc_id, and the token filter is a map-side higher-order function:
    * O(tokens × spans-per-doc) with tiny constants, no explode, no
    * shuffle beyond the one join.
    */
  def applySpanCuts(docs: DataFrame, textCol: String, idCol: String,
      cuts: DataFrame): DataFrame = {
    val spans = cuts.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("spans"))
    docs
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), " ").as("t"))
      .join(spans, Seq("doc_id"), "left")
      // functions.filter's index is 0-based; span bounds are 1-based
      .withColumn("kept",
        when(col("spans").isNull, col("t"))
          .otherwise(filter(col("t"), (_, i) =>
            !exists(col("spans"), sp =>
              i + 1 >= sp("start_pos") && i + 1 <= sp("end_pos")))))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("t")).cast("bigint").as("n_tokens_before"),
        size(col("kept")).cast("bigint").as("n_tokens_after"))
  }
}
