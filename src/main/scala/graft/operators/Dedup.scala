package graft.operators

import graft.functions.TextStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import graft.operators.Checkpoints.{LineageOps, materialized}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface (builder brief;
  * reference analog: the duplicates audit at
  * /root/reference/notebooks/duplicates.ipynb cells 11,14 — group by DOI,
  * count records / distinct rounds / distinct titles).
  *
  * Scale stance: every variant here is bucketed — exact dedup shuffles once
  * on a 128-bit content hash; MinHash/SimHash shuffle on band keys. There is
  * deliberately NO all-pairs path: candidate pairs only ever materialize
  * within a bucket, so a 1000-executor run over 100 TB shuffles O(docs)
  * rows, not O(docs²).
  */
object Dedup {

  /** Spread a narrow scan across the available parallelism. A small parquet
    * file arrives as ONE split, which makes every downstream map stage
    * (tokenize → shingle → 32 hashes) single-threaded. Gate on the actual
    * scan partition count so a real 100 TB scan — already thousands of
    * splits — skips the extra shuffle entirely; the repartition only fires
    * when the input is under-parallel, where its O(input) cost is noise
    * next to the per-shingle hash work it parallelizes.
    */
  private[graft] def spread(docs: DataFrame, idCol: String): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target, col(idCol))
    else docs
  }

  /** Exact dedup: group on md5(text). One shuffle, map-side partial
    * aggregation, keeper = min id (deterministic).
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** Word n-gram shingles of the normalized token stream — the unit both
    * Jaccard variants operate on. One fused codegen'd call per document
    * (tokenize + distinct n-grams in the same pass, graft.functions
    * .Shingles); TokenizerSpec pins bit-equality against the
    * tokenize→sequence→slice→array_join→array_distinct chain it replaces,
    * which ran every position through the interpreted higher-order path.
    */
  def shingled(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.ShinglesColumn.shingles(col(textCol), n).as("shingles"))
  // NOTE deliberately NO filter here: a filter above these projections gets
  // predicate-pushed below them with the alias substituted — the whole
  // shingle expression (and any downstream UDFs) lands in a scan-level
  // Filter, evaluated multiple times per row. Callers persist() the shingle
  // table first and filter on the cached relation.

  /** All unordered pairs (a < b) from a pre-sorted id array column, built
    * with higher-order functions: for each position i, pair ds[i] with every
    * later element. Pure map-side — the candidate pairs of one bucket never
    * leave the row until the final explode.
    */
  private def intraBucketPairs(ds: Column): Column =
    flatten(transform(ds, (x, i) =>
      transform(slice(ds, i + 2, size(ds)),
        y => struct(x.as("doc_a"), y.as("doc_b")))))

  /** Exact-Jaccard verification of candidate pairs: join each (doc_a, doc_b)
    * back to the shingle sets and compute |∩| / |∪| with `array_intersect` —
    * numerically identical to the exploded-join formulation (shingle arrays
    * are distinct), but the per-pair cost is one array intersection instead
    * of a shuffled group-count. The candidate frame is the small side at any
    * scale where near-dup detection is meaningful; AQE picks the join
    * strategy.
    */
  private def verifyExactJaccard(
      cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Exact n-gram Jaccard similarity pairs: candidate pairs are generated
    * inside per-shingle buckets (one shuffle on shingle, no self-join), then
    * verified with an exact `array_intersect` Jaccard pass.
    *
    * `maxShingleDf` is the standard candidate-generation hygiene for skewed
    * corpora: a shingle shared by more than that many documents is too
    * common to be near-dup evidence, and at 100 TB a single viral shingle
    * would otherwise emit a quadratic intra-bucket pair set. A qualifying
    * pair is lost only if EVERY shared shingle is above the cap — at the
    * thresholds this operator is used with (≥ 0.18 over 3-gram shingles)
    * near-dups share many rare shingles. On the harness corpora the observed
    * max document frequency is 8 (sf0.01) / 25 (sf0.1), so the default cap
    * of 64 provably drops nothing there (oracle hash-match is the proof);
    * the Jaccard VALUE is always exact regardless — it comes from the full
    * shingle sets, not the capped candidate join.
    */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleDf: Int = 64): DataFrame =
    pairIntersections(docs, textCol, idCol, n, maxShingleDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("size_a") + col("size_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Containment near-dup pairs: |A ∩ B| / min(|A|, |B|) ≥ `threshold` —
    * the one-sided overlap score (Broder 1997's containment, the measure
    * behind doc-inside-doc detection). Symmetric Jaccard MISSES the
    * boilerplate-wrapped copy: a 200-shingle doc embedded verbatim in a
    * 2000-shingle page has containment 1.0 but Jaccard ≤ 0.1. Same
    * candidate generation and cost shape as [[ngramJaccardPairs]]; only
    * the denominator differs.
    */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double, maxShingleDf: Int = 64): DataFrame =
    pairIntersections(docs, textCol, idCol, n, maxShingleDf)
      .withColumn("containment",
        col("n_inter").cast("double") / least(col("size_a"), col("size_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 6).as("containment"))

  /** Shared head of the exact-overlap pair scores (Jaccard, containment):
    * candidate pairs from per-shingle buckets with their intersection count
    * and both set sizes.
    *
    * Materializes the shingle table once, BEFORE any filter/explode: it
    * feeds both the bucket explode and the per-doc size projection, and the
    * cache boundary stops predicate pushdown from substituting the shingle
    * expression into scan filters. At scale this would be a written
    * intermediate table; in-session, persist() is its analog. Eager (see
    * [[materialized]]) so the three consumers don't race to recompute it.
    * |A ∩ B| is computed as a count of per-shingle pair slots: each
    * retained shingle bucket emits its intra-bucket pairs, and the
    * (doc_a, doc_b) group count IS the intersection size (shingle arrays
    * are distinct). One shuffle on shingle + one on the narrow pair key —
    * no self-join, no per-pair array materialization.
    */
  private def pairIntersections(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, maxShingleDf: Int): DataFrame = {
    val sh = materialized(shingled(spread(docs, idCol), textCol, idCol, n))
    val inter = sh
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxShingleDf))
      .select(explode(intraBucketPairs(col("ds"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n_shingles"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("size_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("size_b")), "doc_b")
  }

  /** Seeded MinHash signatures over a shingle table (`doc_id`, `shingles`):
    * `numHashes` independent permutation surrogates, each the min of
    * xxhash64(i, shingle) over the set. No RNG state — reproducible on any
    * cluster layout.
    *
    * Shape matters here: the naive column form (`numHashes` × `transform` +
    * `array_min` per row) runs every hash pass through the INTERPRETED
    * higher-order-function path — no codegen, per-element allocation — and
    * was the single hottest loop of the r4 profile. This formulation
    * explodes the shingle set once and computes the mins as `numHashes`
    * plain `min(xxhash64(i, shingle))` aggregates: every expression is
    * whole-stage-codegen'd, the hash work spreads across all cores, and the
    * groupBy gets map-side partial aggregation, so the shuffle carries one
    * `numHashes`-wide row per (partition, doc), not per shingle. Docs with
    * empty shingle sets vanish in the explode — same semantics as the old
    * `filter(size > 0)`.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash + banded-LSH near-duplicate pairs — the 100 TB scale path.
    *
    * Pipeline: shingles → `bands`×`rowsPerBand` minhash signature (map) →
    * one hash per band (map) → equi-shuffle on (band, band_hash) →
    * intra-bucket candidate pairs → exact-Jaccard verify ≥ `threshold`.
    * Everything shuffles O(docs × bands) rows; candidate pairs only ever
    * materialize inside a band bucket, never all-pairs.
    *
    * Output is EXACT (verified) Jaccard pairs, so for any corpus where the
    * banding recall at `threshold` is ~1 the result equals the brute-force
    * [[ngramJaccardPairs]] at the same threshold — that equality is this
    * operator's correctness oracle. With the default 16 bands × 2 rows the
    * probability of missing a pair at Jaccard j is (1-j²)^16: 3e-12 at
    * j=0.9, 2e-5 at j=0.7.
    *
    * `maxBucket` bounds the pair blow-up of a degenerate band bucket (e.g.
    * a boilerplate-heavy shard where thousands of docs share a band); a
    * true near-dup pair in an over-full bucket still surfaces through any
    * of its other 15 bands.
    */
  def minhashBandedPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 2, maxBucket: Int = 4096): DataFrame = {
    val (cand, sh, _) = bandedCandidates(docs, textCol, idCol, n,
      bands, rowsPerBand, maxBucket, persistSigs = false)
    verifyExactJaccard(cand, sh, threshold)
  }

  /** Signature-agreement Jaccard estimate for candidate pairs: the fraction
    * of MinHash positions on which the two signatures agree is an unbiased
    * estimator of the Jaccard similarity (variance j(1-j)/numHashes). The
    * `zip_with`/`aggregate` pair runs on the interpreted HOF path, but
    * unlike the r4 signature hot loop it executes once per CANDIDATE PAIR
    * (a banded, bucket-capped set — orders of magnitude smaller than the
    * corpus) over fixed 32-long arrays, so the explode-and-aggregate rule
    * for corpus-wide loops does not apply.
    */
  private def signatureAgreement(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v
    ).cast("double") / numHashes

  /** [[minhashBandedPairs]] with a signature-estimate PREFILTER between
    * candidate generation and exact verification — the shape that matters at
    * 100 TB. The exact-verify join must re-join each candidate to its full
    * shingle set (wide rows: every shingle of both docs travels to the
    * pair); the estimate needs only the 32-long signatures that already
    * exist. Dropping candidates whose estimated Jaccard is below
    * `threshold - margin` shrinks the wide verify join's input to the
    * near-dup population; band buckets are noisy (one matching band proves
    * only that 2 of 32 positions agree), so most false candidates go.
    *
    * The margin makes the prefilter conservative: a pair at true Jaccard j
    * has estimate ~ Binomial(numHashes, j)/numHashes (σ ≈ 0.081 at 32
    * hashes), so the default margin 0.40 at threshold 0.7 (keep est ≥
    * 0.30, ≈ 4.9σ below the mean of a boundary pair) bounds the per-pair
    * drop probability near 5e-7 — and it decays geometrically above the
    * threshold. Measured on the shipped corpora (with the former `tools/EstProbe`): the
    * LOWEST estimate of any exactly-qualifying pair is 0.84 (sf0.01,
    * 25 pairs) / 0.75 (sf0.1, 256 pairs), so the boundary population the
    * tail bound guards is empty, and cutting at 0.30 keeps the prefilter's
    * prune (49→25 / 2072→256 candidates) identical to the old 0.45 cut.
    * The output therefore equals [[minhashBandedPairs]] — registered under
    * the SAME DuckDB oracle (brute-force exact Jaccard), so the green row
    * is the proof on each corpus. A corpus whose near-dup population
    * hugs the threshold should raise numHashes (tighter σ) rather than
    * rely on the margin. Estimate accuracy itself is gated by
    * `dedup_minhash_est_gate`.
    */
  def minhashEstimatedPairs(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 2, maxBucket: Int = 4096,
      margin: Double = 0.40): DataFrame = {
    val (cand, sh, sigs) =
      bandedCandidates(docs, textCol, idCol, n, bands, rowsPerBand, maxBucket)
    val kept = withAgreement(cand, sigs, bands * rowsPerBand)
      .filter(col("est") >= threshold - margin)
      .select(col("doc_a"), col("doc_b"))
    verifyExactJaccard(kept, sh, threshold)
  }

  /** Estimate-vs-exact error audit over the full banded candidate set: one
    * row with boolean error bounds (avg |est - exact| and max |est - exact|)
    * plus the count of candidates whose EXACT Jaccard clears `threshold`.
    * The error bounds follow the binomial std sqrt(j(1-j)/32) ≤ 0.09: avg
    * ≤ 0.10, max ≤ 0.35 leaves ~3σ headroom over any candidate population.
    * `n_pairs` equals the [[minhashBandedPairs]] output count under the
    * same banding-recall assumption its oracle already rests on, so DuckDB
    * can recompute it brute-force while asserting the booleans it cannot
    * check (the ANN-recall-gate contract): an estimator regression — a
    * seeding bug, a band/slice off-by-one — becomes a hash mismatch.
    */
  def minhashEstimateErrors(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double = 0.7,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    val (cand, sh, sigs) =
      bandedCandidates(docs, textCol, idCol, n, bands, rowsPerBand, maxBucket)
    val exact = verifyExactJaccard(cand, sh, threshold = 0.0)
    withAgreement(cand, sigs, bands * rowsPerBand)
      .join(exact, Seq("doc_a", "doc_b"))
      .select(abs(col("est") - col("jaccard")).as("err"), col("jaccard"))
      .agg(
        sum((col("jaccard") >= threshold).cast("long")).as("n_pairs"),
        (avg(col("err")) <= 0.10).as("avg_err_ok"),
        (max(col("err")) <= 0.35).as("max_err_ok"))
  }

  /** Shared head of the banded-LSH paths: candidate pairs plus the
    * materialized shingle and signature tables they join back to.
    * `persistSigs` is set by the estimate path, which reads `sigs` twice
    * (band explode + agreement join) — without the boundary Catalyst
    * duplicates the whole signature aggregation into both consumers; the
    * plain verify path reads it once and skips the cache.
    */
  private def bandedCandidates(
      docs: DataFrame, textCol: String, idCol: String,
      n: Int, bands: Int, rowsPerBand: Int, maxBucket: Int,
      persistSigs: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = materialized(shingled(spread(docs, idCol), textCol, idCol, n))
    val rawSigs = minhashSignatures(sh, bands * rowsPerBand)
    val sigs = if (persistSigs) materialized(rawSigs) else rawSigs
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    val cand = sigs
      .select(col("doc_id"), posexplode(bandHashes).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxBucket))
      .select(explode(intraBucketPairs(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    (cand, sh, sigs)
  }

  /** Join candidate pairs back to their signatures and attach the
    * [[signatureAgreement]] estimate as `est`.
    */
  private def withAgreement(cand: DataFrame, sigs: DataFrame, numHashes: Int): DataFrame =
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est", signatureAgreement(col("sig_a"), col("sig_b"), numHashes))

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` word n-gram shingles with ANY benchmark document — the
    * standard "is my training set contaminated with my eval set" pass.
    * Candidate generation is a shingle equi-join (never all-pairs), and
    * the benchmark side is broadcast: eval sets are KB–MB even when the
    * corpus is 100 TB, so the flag pass costs one corpus map + one
    * broadcast join + one aggregation. Reports, per corpus doc, the
    * largest qualifying overlap and how many benchmark docs it hits.
    */
  def contaminationFlags(
      corpus: DataFrame, benchmark: DataFrame, textCol: String, idCol: String,
      n: Int, minShared: Int): DataFrame = {
    // Corpus shingles are persisted as ARRAYS and exploded from the cache.
    // An inline explode above the shingle projection lets
    // InferFiltersFromGenerate push `size(shingles) > 0` down past the
    // projections — the full shingle expression lands (twice) in the scan
    // Filter, evaluated interpreted on the pre-repartition split (measured
    // 8.5 s of the query's 9 s at sf0.1; 0.9 s with the boundary). The
    // benchmark side stays inline: eval sets are KB–MB, the duplicated
    // filter there is noise.
    val ce = materialized(shingled(spread(corpus, idCol), textCol, idCol, n))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val be = shingled(benchmark, textCol, idCol, n)
      .select(col("doc_id").as("bench_id"), explode(col("shingles")).as("sh"))
    // shingle arrays are distinct per doc, so the pair count IS |∩|
    val overlap = ce.join(broadcast(be), "sh")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val perDoc = overlap.groupBy(col("doc_id"))
      .agg(max(col("n_shared")).as("max_shared"),
        countDistinct(col("bench_id")).as("n_bench_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        (coalesce(col("max_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** Incremental dedup: flag a NEW batch of documents against an existing
    * corpus — the ingestion-time shape of deduplication (a daily crawl
    * lands against a 100 TB corpus; re-deduplicating the whole corpus per
    * batch is a non-starter). Per new document: `exact_dup` (identical
    * normalized content exists in the corpus, via a content-hash semi
    * join), the largest shingle overlap with any single corpus doc, how
    * many corpus docs clear `minShared`, and the `near_dup` verdict.
    *
    * Scale shape: the exact pass shuffles 128-bit digests only (never
    * text). The near pass is a shingle equi-join — batch shingles ⨝ corpus
    * shingles — with the standard df cap on the CORPUS side (a viral
    * shingle is not near-dup evidence and would emit a quadratic bucket;
    * same hygiene as [[ngramJaccardPairs]]). Everything is keyed shuffles
    * proportional to the BATCH's shingle volume plus the corpus index
    * build; at production scale the corpus shingle/digest tables are
    * written once and reused per batch, not recomputed (they are exactly
    * the frames this function derives from `corpus`).
    */
  /** Wrap a driver-built bloom filter as a codegen'd Catalyst predicate:
    * Spark's internal `BloomFilterMightContain` (the expression behind
    * AQE's runtime row-level filtering, not SQL-exposed) over a binary
    * literal of the serialized sketch. `value` must be a LongType column
    * hashed the same way the filter was built (we standardize on
    * `xxhash64`); the sketch's `putLong`/`mightContainLong` agree across
    * builds because both sides are Spark's own sketch implementation.
    */
  private[operators] def bloomMightContain(
      bf: org.apache.spark.util.sketch.BloomFilter, value: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expr(value)))
  }

  /** @param bloomFpp when set, the exact-dup arm prefilters the BATCH with
    *   a bloom filter built over the corpus content hashes before the
    *   digest semi-join — the semi-join then shuffles only true dups plus
    *   an `fpp` fraction of the batch instead of the whole batch, and the
    *   corpus side is read in ONE shuffle-free pass (the filter build).
    *   Output is IDENTICAL to the plain path: the exact join removes the
    *   false positives and bloom filters have no false negatives — which
    *   is why `dedup_incremental_bloom` ships under the SAME DuckDB oracle
    *   as `dedup_incremental`. Sizing: ~1.2 bytes/key at fpp=0.01, so the
    *   driver-held sketch works to ~10⁹ corpus keys (~GB); past that,
    *   partition the corpus and ship per-partition filters, or keep the
    *   plain semi-join.
    */
  def incrementalDedupFlags(
      batch: DataFrame, corpus: DataFrame, textCol: String, idCol: String,
      n: Int, minShared: Int, maxShingleDf: Int = 64,
      bloomFpp: Option[Double] = None): DataFrame = {
    // NULL text digests under the same reserved sentinel as the streamed
    // ingest (IngestWithDigest): NULL dedups against NULL, and never
    // against '' (md5('') is a distinct real digest). A NULL join key
    // would silently make NULL text never-a-dup on this path while the
    // streamed path flags it — the two arms must share one contract. The
    // sentinel cannot collide: md5 hex is exactly 32 [0-9a-f] chars.
    def digest(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit("<null-text>")).otherwise(md5(c))
    val bh0 = batch.select(col(idCol).as("doc_id"), digest(col(textCol)).as("h"))
    val bh = bloomFpp match {
      case Some(fpp) =>
        val hashes = corpus.select(xxhash64(digest(col(textCol))).as("h64"))
        val bf = hashes.stat.bloomFilter("h64",
          math.max(hashes.count(), 1L), fpp)
        bh0.filter(bloomMightContain(bf, xxhash64(col("h"))))
      case None => bh0
    }
    val ch = corpus.select(digest(col(textCol)).as("h"))
    val exact = bh.join(ch, Seq("h"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    // Explode from the PERSISTED array tables, never inline above the
    // shingle projection: CollapseProject folds the (HOF-heavy) shingle
    // expression into Generate's input, which drops the whole pipeline out
    // of codegen — measured 12× on the corpus side (0.6 s to build the
    // array table, 7+ s to explode it inline). Same boundary
    // ngramJaccardPairs relies on.
    val shB = materialized(shingled(spread(batch, idCol), textCol, idCol, n))
    val shC = materialized(shingled(spread(corpus, idCol), textCol, idCol, n))
    val be = shB.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val ce = shC.select(col("doc_id").as("corpus_id"), explode(col("shingles")).as("sh"))
    // corpus-side df cap (shingles are distinct per doc, so count(*) IS the
    // distinct-document frequency)
    val keep = ce.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select(col("sh"))
    val overlap = be.join(ce.join(keep, Seq("sh")), Seq("sh"))
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("doc_id"))
      .agg(max(col("n_shared")).as("max_shared"),
        countDistinct(col("corpus_id")).as("n_corpus_hits"))
    batch.select(col(idCol).as("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        coalesce(col("n_corpus_hits"), lit(0L)).as("n_corpus_hits"),
        (coalesce(col("max_shared"), lit(0L)) >= minShared).as("near_dup"))
  }

  /** Connected components over a near-duplicate pair set — the dedup
    * endgame: pair detection (MinHash/SimHash/embedding) emits edges, but
    * the KEEP/DROP decision needs one keeper per duplicate CLUSTER, and
    * near-dup relations are not transitive-safe without it (a~b, b~c ⇒ a,c
    * in one cluster even if a~c was never emitted).
    *
    * Algorithm: iterated min-label propagation ("hash-to-min") with a
    * POINTER-JUMPING step, expressed as DataFrame joins — label(v) starts
    * at min(v, neighbors), and each round takes (a) the min of the
    * neighbors' labels, then (b) the label of that label
    * (label(label(v)), valid because a label is always a node id of the
    * same component and labels only decrease). Neighbor-min alone is
    * O(diameter) rounds — fine for dense boilerplate families (diameter
    * ≤ 3) but a correctness cliff for near-dup DRIFT CHAINS (a crawl's
    * version chain A~B~C~… has diameter = its length, and a 50+-round
    * graph used to exhaust maxIterations). The jump contracts label paths
    * toward doubling per round, so convergence is O(log diameter): a
    * 1000-link chain converges in ~12 rounds, not 1000. Each round is two
    * equi-shuffle joins + one aggregation over O(edges) rows, nothing
    * driver-side but the convergence flag; rounds are localCheckpointed
    * and the previous round dropped, so lineage stays bounded.
    *
    * Each round runs exactly ONE action: the changed-row count rides the
    * eager localCheckpoint via `Dataset.observe` (CollectMetrics
    * accumulates per task during the materializing job), so convergence
    * costs no second scan — at cluster scale that halves the per-round
    * job-launch latency that dominates small-diameter graphs.
    *
    * Input: columns `doc_a`, `doc_b`. Output: (`doc_id`, `cluster_id`) for
    * every endpoint, `cluster_id` = min doc id of the component.
    */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 50): DataFrame = {
    val half  = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // eager lineage cut (Checkpoints.cutLineage), not persist: each
    // round's frame feeds the next round's JOINS, so lineage — and with it
    // plan size, optimizer and codegen time per round — would otherwise
    // grow linearly with rounds. Truncating lineage keeps every round's
    // plan constant-size. With a checkpoint dir configured the cut is a
    // RELIABLE checkpoint (executor loss mid-iteration recovers instead
    // of killing the job — localCheckpoint blocks die with an executor
    // and truncated lineage can't recompute them); unset, it stays the
    // zero-I/O localCheckpoint that single-JVM runs want.
    //
    // repartition on `src` BEFORE the checkpoint: Dataset.localCheckpoint
    // preserves outputPartitioning in its LogicalRDD, so every round's
    // edges⋈labels join reuses this layout instead of re-shuffling the
    // (static) edge set once per round.
    val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .cutLineage()
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("nbr_min")).as("cluster_id"))
      .cutLineage()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // step (a): candidate label for v = min over neighbors u of label(u)
      val prop = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster_id").as("src_cid")), "src")
        .groupBy(col("dst"))
        .agg(min(col("src_cid")).as("nbr_cid"))
        .select(col("dst").as("doc_id"), col("nbr_cid"))
      val stepped = labels.join(prop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_cid"),
          least(col("cluster_id"), coalesce(col("nbr_cid"), col("cluster_id")))
            .as("mid_cid"))
      // step (b): pointer jump — follow the label's own label one hop.
      // Every label IS a node id with a labels row (it started as a
      // min over node ids and only ever moves to other labels), and
      // labels are monotone non-increasing, so label(label(v)) is a
      // same-component id ≤ label(v); the left join + coalesce is
      // belt-and-braces, not a semantic fallback.
      val parents = labels
        .select(col("doc_id").as("mid_cid"), col("cluster_id").as("jump_cid"))
      // string-named observe, NOT an Observation object: Observation
      // registers with the session's ObservationManager, whose backing
      // field on classic.SparkSession is the one non-transient mutable
      // field — once initialized it breaks serialization for ANY closure
      // that drags the session along (spark.ml training summaries do).
      // The named form is a pure CollectMetrics plan node; the metric is
      // read off this queryExecution after the checkpoint action.
      val observed = stepped.join(parents, Seq("mid_cid"), "left")
        .select(col("doc_id"),
          least(col("mid_cid"), coalesce(col("jump_cid"), col("mid_cid")))
            .as("cluster_id"),
          col("old_cid"))
        .select(col("doc_id"), col("cluster_id"),
          (col("cluster_id") < col("old_cid")).as("changed"))
        // count(when) not sum: count is 0 on an empty frame, never null
        .observe("cc_round", count(when(col("changed"), lit(1))).as("n_changed"))
      val next = observed
        .cutLineage() // the round's ONE action; the metric lands with it
      val metric = observed.queryExecution.observedMetrics.getOrElse("cc_round",
        throw new IllegalStateException(
          "cc_round metric missing after the checkpoint action"))
      converged = metric.getLong(0) == 0L
      labels = next.select(col("doc_id"), col("cluster_id"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIterations rounds")
    labels
  }

  /** Incremental near-dup clustering — the daily-crawl form of
    * [[duplicateClusters]]: fold a NEW batch of pairs into an existing
    * `(doc_id, cluster_id)` labeling without re-running CC over history.
    * The previous labeling enters the propagation as STAR EDGES (each
    * non-keeper doc ~ its old cluster id) — a historical component of any
    * size or diameter collapses to one hop around its old min, so round
    * count depends on the NEW edges' structure only. The result is
    * EXACTLY `duplicateClusters(historical pairs ∪ new pairs)` (min-id
    * labels over every node of either input; the shared driver oracle
    * proves the equivalence), because the star spans precisely the old
    * components and the union of spanning sets preserves connectivity.
    *
    * At 100 TB this is the difference between re-clustering the corpus
    * per crawl and an O(|new batch| + |touched history|) fold — history
    * is read as one labels table, never re-paired.
    */
  def incrementalClusters(prevLabels: DataFrame, newPairs: DataFrame,
      maxIterations: Int = 50): DataFrame = {
    val star = prevLabels
      .filter(col("doc_id") =!= col("cluster_id")) // singletons carry no edge
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    duplicateClusters(
      star.unionByName(newPairs.select(col("doc_a"), col("doc_b"))),
      maxIterations)
  }

  /** Cluster assignment over a whole corpus: every document gets a
    * `cluster_id` (its component's min id via [[duplicateClusters]], or
    * itself when it has no near-dup), the cluster size, and the keeper flag
    * (`doc_id == cluster_id` — deterministic min-id keeper, same policy as
    * [[exactGroups]]).
    */
  def clusterAssignments(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    clusterAssignmentsFromLabels(docs, idCol, duplicateClusters(pairs))

  /** [[clusterAssignments]] over an ALREADY-COMPUTED labeling (e.g.
    * [[incrementalClusters]]' output): docs without a label are their own
    * singleton cluster.
    */
  def clusterAssignmentsFromLabels(docs: DataFrame, idCol: String,
      labels: DataFrame): DataFrame = {
    val lab = docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Quality-aware cluster keeper — the production refinement of
    * [[clusterAssignments]]'s min-id rule: within each near-dup cluster,
    * keep the HIGHEST-scoring member (id tiebreak), so dedup removes the
    * worst copies instead of an arbitrary one. `scoreCol` must be an
    * engine-deterministic score (e.g. the rounded
    * [[graft.functions.TextStats.qualityScore]], whose cross-engine
    * equality `text_quality` proves) or the keeper choice itself becomes
    * nondeterministic. One extra shuffle over the labeling: the per-cluster
    * rank window, partitioned by cluster id — clusters are dup groups
    * (tiny), so the window sorts a handful of rows per group.
    */
  def clusterKeepersByScore(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val labels = duplicateClusters(pairs)
    val lab = docs.select(col(idCol).as("doc_id"), col(scoreCol).as("score"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    lab.withColumn("is_keeper", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("score"), col("is_keeper"))
  }

  /** SimHash bucketing: 64-bit signature, bucket on the top `bandBits` bits.
    * Near-dups collide in a bucket; intra-bucket verification (hamming or
    * [[graft.functions.PartialRatio]]) follows.
    *
    * Same explode-and-aggregate shape as [[minhashSignatures]], for the same
    * reason: the per-row column form ([[graft.functions.TextStats.simhashFromHashes]],
    * kept as the reference implementation) votes each of the 64 bits with an
    * interpreted `aggregate` HOF — 64 uncompiled passes per document. Here
    * the token hashes explode once and the 64 bit-votes are plain
    * conditional `sum` aggregates in ONE codegen'd groupBy with map-side
    * combine. Values are identical: the vote per bit is a sum over the same
    * token-hash multiset, in any order. Docs with no tokens (no exploded
    * rows) re-enter via the left join with the same signature the fold
    * gives them: all-zero votes → simhash 0.
    */
  def simhashBuckets(docs: DataFrame, textCol: String, idCol: String,
      bandBits: Int, portableHash: Boolean = false): DataFrame = {
    val nBits = if (portableHash) 60 else 64
    simhashSignatures(docs, textCol, idCol, portableHash)
      .withColumn("bucket", shiftrightunsigned(col("simhash"), nBits - bandBits))
  }

  /** Per-document 64-bit (60-bit portable) SimHash signatures — the shared
    * head of [[simhashBuckets]] and [[simhashPairs]].
    */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      portableHash: Boolean = false): DataFrame = {
    // xxhash64 (64-bit, fastest) is the in-Spark default; `portableHash`
    // derives a 60-bit hash from the md5 hex prefix instead — ~2× the hash
    // cost, but reproducible in any engine with md5 (the DuckDB oracle
    // replicates the whole pipeline bit-for-bit on it).
    val nBits = if (portableHash) 60 else 64
    val hashOf: Column => Column =
      if (portableHash) t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")
      else t => xxhash64(t)
    // token arrays persisted before the explode — same
    // InferFiltersFromGenerate boundary as [[contaminationFlags]] (the
    // inferred size(tokenize(...)) > 0 filter would re-run the regex
    // tokenizer twice per row inside the scan, on the un-repartitioned
    // split; measured 2.5 s → 1.5 s at sf0.1)
    val toks = materialized(spread(docs, idCol)
      .select(col(idCol).as("doc_id"), TextStats.tokenize(col(textCol)).as("toks")))
    val hashed = toks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .select(col("doc_id"), hashOf(col("tok")).as("h"))
    val votes = (0 until nBits).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0L, 1).otherwise(-1)).as(s"v$i"))
    val sig = (0 until nBits)
      .map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val sims = hashed
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
    docs.select(col(idCol).as("doc_id"))
      .join(sims, Seq("doc_id"), "left")
      .na.fill(0L, Seq("simhash"))
  }

  /** SimHash near-duplicate pairs with an EXACT completeness guarantee:
    * every pair within hamming distance ≤ `maxHamming` of each other's
    * signature is emitted. Candidates form only where two signatures share
    * one of `bands` contiguous signature bands exactly; by pigeonhole,
    * `maxHamming` differing bits cannot touch all `bands` bands when
    * `bands > maxHamming`, so a qualifying pair ALWAYS shares at least one
    * band — banding here is a pure partitioning trick, not an
    * approximation, and the brute-force oracle checks equality, not
    * recall. Verification is one codegen'd `bit_count(a ^ b)` per
    * candidate.
    *
    * Scale shape: one shuffle on (band, band-value) — O(docs × bands) rows
    * — then a signature equi-join on the candidate set; no all-pairs path.
    * Degenerate bands (e.g. thousands of zero-signature empty docs in one
    * bucket) are the same skew case as MinHash's `maxBucket`, but here a
    * cap would break the completeness proof, so over-full buckets are
    * kept; filter empty docs upstream if the corpus has them in volume.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      portableHash: Boolean = false): DataFrame = {
    require(bands > maxHamming, "pigeonhole completeness needs bands > maxHamming")
    val nBits = if (portableHash) 60 else 64
    require(nBits % bands == 0, s"bands must divide $nBits")
    val bandWidth = nBits / bands
    val sigs = materialized(
      simhashSignatures(docs, textCol, idCol, portableHash))
    val bandCols = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftrightunsigned(col("simhash"), b * bandWidth)
        .bitwiseAND(lit((1L << bandWidth) - 1)).as("bv")))
    val cand = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .groupBy(col("bb.band"), col("bb.bv"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(intraBucketPairs(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")), "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("bigint").as("hamming"))
  }

  /** Near-duplicate pairs over an EXTERNAL 64-bit signature carried as two
    * 32-bit words (`hash_hi`, `hash_lo` — e.g.
    * [[graft.operators.Multimodal.imageDHash]]'s perceptual hashes, which
    * split the hash to keep BIGINT sign bits out of both engines). Same
    * pigeonhole-complete banding as [[simhashPairs]]: `bands` contiguous
    * bands over the 64 bits, a qualifying pair (hamming ≤ `maxHamming` <
    * `bands`) always shares one band exactly, so the banded join emits
    * EXACTLY the brute-force pair set — partitioning trick, not
    * approximation. One shuffle on (band, band-value), O(docs × bands)
    * rows; verification is two codegen'd `bit_count(xor)` per candidate.
    * Input: one row per doc with columns (doc_id, hash_hi, hash_lo).
    */
  def hammingPairsHiLo(sigs0: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    require(bands > maxHamming, "pigeonhole completeness needs bands > maxHamming")
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands=$bands must cut the two 32-bit words on band boundaries")
    val bandWidth = 64 / bands
    val perWord = 32 / bandWidth
    val mask = (1L << bandWidth) - 1
    val sigs = materialized(
      sigs0.select(col("doc_id"), col("hash_hi").cast("long"),
        col("hash_lo").cast("long")))
    val bandCols = (0 until bands).map { b =>
      val word = if (b < perWord) col("hash_lo") else col("hash_hi")
      val shift = (b % perWord) * bandWidth
      struct(lit(b).as("band"),
        shiftrightunsigned(word, shift).bitwiseAND(lit(mask)).as("bv"))
    }
    val cand = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .groupBy(col("bb.band"), col("bb.bv"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(intraBucketPairs(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"),
        col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"),
        col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"),
        col("hamming").cast("bigint").as("hamming"))
  }

  /** Incremental [[hammingPairsHiLo]]: only pairs TOUCHING the incoming
    * batch (new-new and new-old) are emitted, never old-old — the daily
    * crawl shape. Candidates form by joining the BATCH's band keys
    * against the union's, so per-ingest work scales with the batch, not
    * the corpus: the corpus side contributes one equi-join probe per
    * (band, value) the batch actually carries (store the signature index
    * bucketed/partitioned by band value and that probe prunes to the
    * touched buckets), and the corpus×corpus quadratic term never forms.
    * Same pigeonhole completeness as the full variant, restricted to the
    * emitted scope: a qualifying pair with a new member always shares a
    * band, and the new member's band row is always on the probe side.
    * Degenerate buckets (e.g. a constant-signature flood) are kept, like
    * every completeness-proof path here — cap upstream if the corpus has
    * them in volume. Caller contract: `existing` and `incoming` carry
    * disjoint doc_ids, one row per doc, columns (doc_id, hash_hi,
    * hash_lo).
    */
  def hammingPairsHiLoIncremental(existing: DataFrame, incoming: DataFrame,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands > maxHamming, "pigeonhole completeness needs bands > maxHamming")
    require(64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands=$bands must cut the two 32-bit words on band boundaries")
    val bandWidth = 64 / bands
    val perWord = 32 / bandWidth
    val mask = (1L << bandWidth) - 1
    def normed(df: DataFrame) =
      df.select(col("doc_id"), col("hash_hi").cast("long"),
        col("hash_lo").cast("long"))
    // eager localCheckpoint, not materialized()/persist: this kernel runs
    // inside streaming sinks (PhashIngest) where a persist with no owner
    // to unpersist it would pin executor storage per MICRO-BATCH for the
    // JVM lifetime — checkpoint blocks are freed with the frames, so the
    // lifetime is bounded by construction (the DoiNetwork r11 precedent)
    val newSigs = normed(incoming).localCheckpoint()
    val allSigs = normed(existing).unionByName(newSigs).localCheckpoint()
    def bandRows(df: DataFrame, idAs: String, hiAs: String, loAs: String) = {
      val bandCols = (0 until bands).map { b =>
        val word = if (b < perWord) col("hash_lo") else col("hash_hi")
        val shift = (b % perWord) * bandWidth
        struct(lit(b).as("band"),
          shiftrightunsigned(word, shift).bitwiseAND(lit(mask)).as("bv"))
      }
      df.select(col("doc_id").as(idAs), col("hash_hi").as(hiAs),
          col("hash_lo").as(loAs), explode(array(bandCols: _*)).as("bb"))
        .select(col(idAs), col(hiAs), col(loAs),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
    }
    // hashes ride the band rows, so the hamming check needs no second
    // join back to the signature tables
    bandRows(newSigs, "doc_n", "hi_n", "lo_n")
      .join(bandRows(allSigs, "doc_o", "hi_o", "lo_o"), Seq("band", "bv"))
      .filter(col("doc_n") =!= col("doc_o"))
      .withColumn("hamming",
        bit_count(col("hi_n").bitwiseXOR(col("hi_o"))) +
          bit_count(col("lo_n").bitwiseXOR(col("lo_o"))))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"),
        col("hamming").cast("bigint").as("hamming"))
      .distinct()
  }
}
