package graft
package queries

import graft.functions.TextStats
import graft.operators.{Dedup, Similarity}
import graft.operators.Checkpoints.LineageOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import QueryCommon._

/** Exact, MinHash, SimHash, containment and incremental dedup.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object DedupQueries {

  /** The testdata corpus has no NULL text, so the NULL-digest contract
    * (NULL dedups against NULL under the `<null-text>` sentinel, and never
    * against `''`) would go unexercised by the oracle compare. This
    * appends three synthetic rows — a NULL-text + an empty-text doc in the
    * batch source and a NULL-text doc in the corpus — and the oracle
    * appends the SAME literals (see `nullFixtureSql`), so the green row
    * proves: batch NULL → exact_dup (matched corpus NULL via sentinel),
    * batch '' → NOT exact_dup (md5('') is a real digest with no corpus
    * twin). IDs start at 1e9, far above any generated doc_id.
    */
  private def docsWithNullTextFixture(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val extra = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1000000001L, null, "en", "src0", 0L),
        Row(1000000004L, "", "en", "src0", 0L),
        Row(1000000002L, null, "en", "src1", 0L)),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(extra)
  }

  /** DuckDB twin of [[docsWithNullTextFixture]] — a CTE body the dedup
    * oracles splice in place of the raw `documents` table.
    */
  private val nullFixtureSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(1000000001 AS BIGINT), CAST(NULL AS VARCHAR), 'en', 'src0', CAST(0 AS BIGINT)),
      |    (CAST(1000000004 AS BIGINT), '', 'en', 'src0', CAST(0 AS BIGINT)),
      |    (CAST(1000000002 AS BIGINT), CAST(NULL AS VARCHAR), 'en', 'src1', CAST(0 AS BIGINT)))
      |    t(doc_id, text, lang, source, n_chars)""".stripMargin

  def specs(root: String): Seq[QuerySpec] = Seq(
    // --- LLM-data-pipeline operators ---

    // Exact dedup groups over md5(text) — one shuffle, map-side combine.
    QuerySpec("dedup_exact", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("text_hash")
    },
      """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact n-gram Jaccard similarity pairs (verification-grade path;
    // MinHash LSH is the scale path, registered rows-only below).
    QuerySpec("dedup_jaccard_pairs", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.18)
        .orderBy("doc_a", "doc_b")
    },
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.18
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Embedding-cosine near-dup pairs (exact, norm-precomputed; LSH
    // prefilter is the scale path — see Similarity.cosinePairs docs).
    QuerySpec("dedup_embedding_pairs", (s, dir) => {
      // the O(n²) nested-loop scoring is the segment under the sort, and
      // its size estimate is too large for the small-sort rule, so the
      // range-sampling pass would run it twice: cut it first (warm median
      // 2.04 s with the cut, 3.27 s without, at sf0.1, local[4] on 4 vCPUs)
      Similarity.cosinePairs(t(s, dir, "embeddings"), threshold = 0.45)
        .cutLineage()
        .orderBy(col("doc_a"), col("doc_b"))
    },
      """SELECT doc_a, doc_b, sim FROM (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
        |WHERE sim >= 0.45 ORDER BY doc_a, doc_b""".stripMargin),

    // Benchmark decontamination: every 50th doc plays the eval set; flag
    // corpus docs sharing >= 3 word-3-gram shingles with any of them.
    QuerySpec("dedup_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFlags(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "text", "doc_id", n = 3, minShared = 3)
        .orderBy("doc_id")
    },
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
        |  FROM tk),
        |ce AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 <> 0),
        |be AS (SELECT doc_id AS bench_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0),
        |ov AS (
        |  SELECT doc_id, bench_id, count(*) AS n_shared
        |  FROM ce JOIN be USING (s) GROUP BY 1, 2 HAVING count(*) >= 3),
        |agg AS (
        |  SELECT doc_id, max(n_shared) AS max_shared, count(DISTINCT bench_id) AS n_bench_hits
        |  FROM ov GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(max_shared, 0) AS BIGINT) AS max_shared,
        |  CAST(coalesce(n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
        |  coalesce(max_shared, 0) >= 3 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
        |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // SEMANTIC decontamination — the embedding-space sibling of
    // dedup_contamination: corpus vectors within 0.35 cosine of ANY eval
    // vector (every 50th id plays the benchmark) leak it semantically
    // even with zero shared n-grams. Broadcast-eval map-side pass — the
    // eval set is small by definition, so O(|corpus| × |eval|) with no
    // shuffle IS the 100 TB plan, not a bucketed approximation. Exact
    // and fully oracled.
    QuerySpec("dedup_contamination_embedding", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.crossCosinePairs(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          threshold = 0.35)
        .orderBy("doc_id", "eval_id")
    },
      // Same word-3-gram shingles (slice semantics: DuckDB list[a:b] is
      // 1-based inclusive; range(a,b) excludes b), distinct per doc, so the
      // join count per (doc, bench) pair is the intersection size.
      // normalized cross cosine vs the eval split, thresholded — exact
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                       CAST(embedding AS DOUBLE[])))) AS e
        |  FROM embeddings),
        |c AS (SELECT * FROM v WHERE vec_id % 50 <> 0),
        |ev AS (SELECT * FROM v WHERE vec_id % 50 = 0),
        |s AS (
        |  SELECT c.vec_id AS doc_id, ev.vec_id AS eval_id,
        |    round(list_inner_product(c.e, ev.e), 4) AS sim
        |  FROM c, ev)
        |SELECT doc_id, eval_id, sim FROM s
        |WHERE sim >= 0.35 ORDER BY doc_id, eval_id""".stripMargin),

    // MinHash banded-LSH near-dup pairs (the 100 TB scale path): candidates
    // form only inside (band, band-hash) buckets, then an exact-Jaccard
    // verify pass makes the output equal brute-force Jaccard at the same
    // threshold — which is exactly what the DuckDB oracle computes.
    QuerySpec("dedup_minhash", (s, dir) => {
      Dedup.minhashBandedPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b")
    },
      // The banded-LSH path verifies candidates with exact Jaccard, so its
      // oracle IS the brute-force Jaccard at the same threshold (recall of the
      // 16x2 banding at j>=0.7 is 1 - (1-j^2)^16 ~ 1; a hash mismatch here
      // would mean the banding dropped a real pair). Shared with the
      // estimate-prefiltered variant: its green row additionally proves the
      // conservative prefilter (est >= threshold - margin) dropped no pair.
      minhashPairsOracle),

    // Signature-estimate prefilter between banding and exact verify — the
    // 100 TB shape: the wide shingle-set re-join only runs on candidates
    // whose estimated Jaccard clears threshold - margin. Same oracle as
    // dedup_minhash: green = the prefilter dropped nothing.
    QuerySpec("dedup_minhash_prefiltered", (s, dir) => {
      Dedup.minhashEstimatedPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.7)
        .orderBy("doc_a", "doc_b")
    }, minhashPairsOracle),

    // Estimator audit for the prefilter: avg/max |estimate - exact| bounds
    // over every banded candidate, plus the exact >= 0.7 pair count DuckDB
    // recomputes brute-force (ANN-recall-gate contract).
    QuerySpec("dedup_minhash_est_gate", (s, dir) => {
      Dedup.minhashEstimateErrors(t(s, dir, "documents"), "text", "doc_id",
        n = 3, threshold = 0.7)
    },
      // DuckDB cannot run MinHash, but it CAN recompute the exact >= 0.7 pair
      // count brute-force and assert the estimator error booleans — a seeding
      // or banding regression becomes a hash mismatch.
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS avg_err_ok, TRUE AS max_err_ok
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7""".stripMargin),

    // SimHash signatures + band buckets. The query uses the portable
    // md5-derived 60-bit hash so DuckDB can replicate the full pipeline
    // (tokenize → per-token hash → 60 bit-votes → signature → bucket);
    // the xxhash64 form stays the in-Spark default for dedup joins.
    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simhashBuckets(t(s, dir, "documents"), "text", "doc_id",
          bandBits = 12, portableHash = true)
        .orderBy("doc_id")
    },
      // Full simhash pipeline replicated on the portable md5-derived 60-bit
      // token hash: same tokenize normalization, 60 bit-vote sums, signature
      // reassembly, top-12-bit bucket. Generated programmatically — the 60
      // per-bit sums are mechanical.
      {
      val votes = (0 until 60)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(", ")
      val bits = (0 until 60)
        .map(i => s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" | ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
         |    t -> len(t) > 1)) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
         |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
         |sims AS (SELECT doc_id, $bits AS simhash FROM votes)
         |SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash,
         |  CAST(coalesce(s.simhash, 0) >> 48 AS BIGINT) AS bucket
         |FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // SimHash pairs at hamming <= 3 with the pigeonhole completeness
    // guarantee (4 bands > 3 differing bits ⇒ every qualifying pair shares
    // a band). The oracle recomputes ALL pairs brute-force from the
    // portable signatures — an equality check on the banding, not a recall
    // gate.
    QuerySpec("dedup_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3, bands = 4, portableHash = true)
        .orderBy("doc_a", "doc_b")
    },
      // Brute-force ALL pairs at hamming <= 3 from the same portable
      // signatures — the pigeonhole guarantee means the banded Spark path
      // must produce exactly this set (equality, not recall).
      {
      val votes = (0 until 60)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
        .mkString(", ")
      val bits = (0 until 60)
        .map(i => s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
        .mkString(" | ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
         |    t -> len(t) > 1)) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
         |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
         |sims AS (SELECT doc_id, $bits AS simhash FROM votes),
         |full_sigs AS (
         |  SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash
         |  FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM full_sigs a JOIN full_sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // Containment (|A∩B| / min set size) near-dup pairs — catches the
    // doc-inside-doc copy symmetric Jaccard misses (a 10x-larger wrapper
    // caps Jaccard at ~0.1 while containment is 1.0).
    QuerySpec("dedup_containment", (s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.9)
        .orderBy("doc_a", "doc_b")
    },
      // Same shingle universe as the Jaccard oracles; only the denominator
      // changes (min set size instead of union).
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / least(sa.n_sh, sb.n_sh), 6) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE n_inter * 1.0 / least(sa.n_sh, sb.n_sh) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Near-dup CLUSTERS over the banded-LSH pair set: min-label propagation
    // to connected components, one keeper per cluster. The oracle recomputes
    // the >= 0.7 Jaccard pairs brute-force and closes them transitively with
    // a recursive CTE — so this checks the component labels, sizes and
    // keeper flags end-to-end, not just the edges.
    QuerySpec("dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      Dedup.clusterAssignments(docs, "doc_id", pairs)
        .orderBy("doc_id")
    },
      // Connected components via transitive closure (recursive CTE) over the
      // brute-force >= 0.7 Jaccard pairs — checks labels, sizes and keepers.
      dedupClustersOracle),

    // The daily-crawl form: 20% of the corpus "arrives today". Yesterday's
    // labeling (CC over the historical pairs) folds the new batch's pairs
    // in via incrementalClusters — history collapses to star edges, so
    // rounds depend on the new batch, never on historical component size.
    // Shares dedup_clusters' oracle VERBATIM: green = the incremental fold
    // is row-identical to re-clustering the full corpus from scratch.
    QuerySpec("dedup_clusters_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7).localCheckpoint() // pair gen once, split twice
      def isNew(c: Column) = pmod(c, lit(5)) === 0
      val hist  = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val fresh = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val prev = Dedup.duplicateClusters(hist)
      Dedup.clusterAssignmentsFromLabels(docs, "doc_id",
          Dedup.incrementalClusters(prev, fresh))
        .orderBy("doc_id")
    },
      // the SAME oracle: the incremental fold (star edges + new pairs) must
      // reproduce from-scratch clustering of the full corpus exactly
      dedupClustersOracle),

    // Quality-aware dedup: per near-dup cluster, keep the HIGHEST-quality
    // member (rounded qualityScore — cross-engine equality proven by
    // text_quality — with id tiebreak) instead of the arbitrary min-id.
    QuerySpec("dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      Dedup.clusterKeepersByScore(
          docs.withColumn("quality", TextStats.qualityScore(col("text"))),
          "doc_id", "quality", pairs)
        .orderBy(col("doc_id"))
    },
      // Same recursive-CTE clustering as dedup_clusters; the keeper window
      // ranks by the rounded score (text_quality proves its cross-engine
      // equality) with id tiebreak.
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        |q AS (
        |  SELECT doc_id,
        |    round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |        + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |        + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS score
        |  FROM documents)
        |SELECT lab.doc_id, lab.cluster_id, q.score,
        |  row_number() OVER (PARTITION BY lab.cluster_id
        |                     ORDER BY q.score DESC, lab.doc_id) = 1 AS is_keeper
        |FROM lab JOIN q ON q.doc_id = lab.doc_id
        |ORDER BY lab.doc_id""".stripMargin),

    // Blocked fuzzy record linkage: within-block (first-two-token key)
    // document-prefix pairs gated at partial_ratio ≥ 80 — the ER blocking
    // pattern; candidates are an equi-join, never all-pairs. Fully
    // oracled: DuckDB replays the block join and the windowed Levenshtein.
    QuerySpec("er_fuzzy_pairs", (s, dir) => {
      val recs = t(s, dir, "documents")
        .select(col("doc_id").as("rec_id"),
          substring(col("text"), 1, 48).as("name"))
      graft.operators.EntityResolution.blockedFuzzyPairs(recs, "rec_id",
          "name", substring_index(col("name"), " ", 2), threshold = 80)
        .orderBy("id_a", "id_b")
    },
      // Blocked-fuzzy replay: same block key, same shorter-over-longer
      // window sweep as partialRatioOracle (constant series + bound filter —
      // generate_series can't be lateral), same round/max/threshold chain.
      """WITH p AS (
        |  SELECT doc_id AS id, substr(text, 1, 48) AS name,
        |    array_to_string(string_split(substr(text, 1, 48), ' ')[1:2], ' ') AS block
        |  FROM documents),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.name AS na, b.name AS nb
        |  FROM p a JOIN p b ON a.block = b.block AND a.id < b.id),
        |norm AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN len(na) <= len(nb) THEN na ELSE nb END AS s,
        |    CASE WHEN len(na) <= len(nb) THEN nb ELSE na END AS l
        |  FROM cand),
        |win AS (
        |  SELECT id_a, id_b,
        |    round(100 * (1.0 - levenshtein(s, substr(l, i, len(s))) * 1.0 / len(s))) AS r
        |  FROM norm, generate_series(1, 64) AS t(i)
        |  WHERE i <= len(l) - len(s) + 1),
        |sc AS (SELECT id_a, id_b, CAST(max(r) AS INTEGER) AS score
        |       FROM win GROUP BY 1, 2)
        |SELECT id_a, id_b, score FROM sc
        |WHERE score >= 80 ORDER BY id_a, id_b""".stripMargin),

    QuerySpec("dedup_incremental", (s, dir) => {
      val docs = docsWithNullTextFixture(t(s, dir, "documents"))
      Dedup.incrementalDedupFlags(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "text", "doc_id", n = 3, minShared = 10)
        .orderBy("doc_id")
    }, incrementalDedupOracle),

    // Same computation through the bloom-prefiltered exact arm (Spark's
    // internal BloomFilterMightContain over a corpus-hash sketch): the
    // batch side of the digest semi-join shrinks to dups + fpp before the
    // shuffle. Same oracle as dedup_incremental — green = equivalent.
    QuerySpec("dedup_incremental_bloom", (s, dir) => {
      val docs = docsWithNullTextFixture(t(s, dir, "documents"))
      Dedup.incrementalDedupFlags(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "text", "doc_id", n = 3, minShared = 10, bloomFpp = Some(0.01))
        .orderBy("doc_id")
    }, incrementalDedupOracle)
  )

  // shared by dedup_clusters AND dedup_clusters_incremental: the oracle
  // recomputes the >= 0.7 Jaccard pairs brute-force and closes them
  // transitively with a recursive CTE — the incremental fold must land on
  // exactly this from-scratch answer
  private val dedupClustersOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
      |  FROM toks WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |labels AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
      |lab AS (
      |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
      |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
      |SELECT lab.doc_id, lab.cluster_id, csizes.cluster_size,
      |  lab.doc_id = lab.cluster_id AS is_keeper
      |FROM lab JOIN csizes USING (cluster_id)
      |ORDER BY lab.doc_id""".stripMargin

  /** Shared by `dedup_minhash` and `dedup_minhash_prefiltered`: both verify
    * candidates with exact Jaccard, so brute-force exact Jaccard at the same
    * threshold is the oracle for each — and one green row per variant proves
    * the banding (and, for the prefiltered arm, the signature-estimate
    * margin filter) dropped no qualifying pair.
    */
  private val minhashPairsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
      |  FROM toks WHERE len(toks) >= 3),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT doc_a, doc_b,
      |  round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared by `dedup_incremental` and `dedup_incremental_bloom`: the bloom
    * prefilter is output-transparent (false positives die in the exact
    * semi-join, false negatives are impossible), so one oracle checks both
    * implementations — the green oracle row IS the equivalence proof.
    */
  private val incrementalDedupOracle: String =
    // the coalesce replays the Spark side's `<null-text>` digest sentinel
    // (Dedup.incrementalDedupFlags / IngestWithDigest): NULL text dedups
    // against NULL text, '' keeps its real md5('') digest — exercised by
    // the three nullFixtureSql rows
    "WITH documents_aug AS (" + nullFixtureSql + "),\n" +
    """batch AS (SELECT * FROM documents_aug WHERE source = 'src0'),
      |corpus AS (SELECT * FROM documents_aug WHERE source <> 'src0'),
      |ex AS (
      |  SELECT DISTINCT b.doc_id FROM batch b
      |  JOIN corpus c ON coalesce(md5(b.text), '<null-text>')
      |                 = coalesce(md5(c.text), '<null-text>')),
      |btoks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM batch),
      |ctoks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
      |                x -> len(x) > 1) AS toks
      |  FROM corpus),
      |bsh AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |    ELSE [] END) AS sh
      |  FROM btoks),
      |csh AS (
      |  SELECT doc_id AS corpus_id, unnest(
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
      |    ELSE [] END) AS sh
      |  FROM ctoks),
      |keep AS (SELECT sh FROM csh GROUP BY sh HAVING count(*) <= 64),
      |ov AS (
      |  SELECT doc_id, max(n_shared) AS max_shared,
      |         count(DISTINCT corpus_id) AS n_corpus_hits
      |  FROM (
      |    SELECT b.doc_id, c.corpus_id, count(*) AS n_shared
      |    FROM bsh b
      |    JOIN (SELECT * FROM csh JOIN keep USING (sh)) c USING (sh)
      |    GROUP BY 1, 2
      |    HAVING count(*) >= 10)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(e.doc_id IS NOT NULL, FALSE) AS exact_dup,
      |  CAST(coalesce(o.max_shared, 0) AS BIGINT) AS max_shared,
      |  CAST(coalesce(o.n_corpus_hits, 0) AS BIGINT) AS n_corpus_hits,
      |  coalesce(o.max_shared, 0) >= 10 AS near_dup
      |FROM (SELECT doc_id FROM batch) d
      |LEFT JOIN ex e USING (doc_id)
      |LEFT JOIN ov o USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
}
