package graft
package queries

import graft.functions.TextStats
import graft.operators.{Curation, Dedup, Expectations, Similarity, VectorIndex}
import graft.operators.VectorIndex.Ivf
import org.apache.spark.sql.functions._
import QueryCommon._

/** Dataset curation: quality gates, sampling, capping, mixing, splits and
  * shards.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object CurationQueries {
  def specs(root: String): Seq[QuerySpec] = Seq(
    // Declarative data-quality expectations (Deequ-shaped): the checklist
    // an ingestion runs before publishing a snapshot. Row-local checks
    // fold into ONE aggregation pass; uniqueness is one groupBy (never an
    // Expand of mixed countDistincts); FK containment one broadcast
    // anti-join count.
    QuerySpec("quality_report", (s, dir) => {
      import Expectations._
      report(t(s, dir, "lineitem"), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1.0, 50.0),
        Unique(Seq("l_orderkey", "l_linenumber")),
        FkIn("l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        RowCountBetween(1L, 10000000000L)))
    },
      // Each check replayed as a plain SQL count; labels match the Scala
      // label() strings character for character.
      """WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
        |SELECT t.* , t.violations = 0 AS pass FROM (
        |  SELECT 'fk_in[o_orderkey]' AS "check", 'l_orderkey' AS "column",
        |    n_rows,
        |    CAST((SELECT count(*) FROM lineitem l
        |          WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS BIGINT) AS violations
        |  FROM n
        |  UNION ALL
        |  SELECT 'in_range[1.0,50.0]', 'l_quantity', n_rows,
        |    CAST((SELECT count(*) FROM lineitem
        |          WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0)
        |      AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'not_null', 'l_orderkey', n_rows,
        |    CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'row_count[1,10000000000]', '*', n_rows,
        |    CAST(CASE WHEN n_rows BETWEEN 1 AND 10000000000 THEN 0 ELSE 1 END AS BIGINT)
        |  FROM n
        |  UNION ALL
        |  SELECT 'unique', 'l_orderkey,l_linenumber', n_rows,
        |    CAST((SELECT coalesce(sum(c - 1), 0)
        |          FROM (SELECT count(*) AS c FROM lineitem
        |                GROUP BY l_orderkey, l_linenumber) g WHERE c > 1)
        |      AS BIGINT)
        |  FROM n
        |) t
        |ORDER BY "check", "column" """.stripMargin),

    // §2.10 ML pipeline acceptance gate (the reference's only quantitative
    // quality gate, classifiers.ipynb cell 18, as a CORRECTNESS row): the
    // synthetic corpus' lang/source labels carry no text signal, so the
    // gate injects a deterministic lexical marker derived from doc_id —
    // what is under test is the PIPELINE (tokenize → TF-IDF → balanced
    // weights → LR and the notebook's literal LinearSVC → held-out
    // accuracy) over the exact hash-ranked stratified split, whose sizes
    // the oracle replays arithmetically.
    QuerySpec("classifier_gate", (s, dir) => {
      val marker = when(pmod(col("doc_id"), lit(2)) === 0, "qqalpha")
        .otherwise("qqbravo")
      val docs = t(s, dir, "documents")
        .withColumn("topic", marker)
        .withColumn("text", concat_ws(" ", col("text"), marker))
      graft.analysis.Classifier.classifierGate(
        docs, "text", "topic", testFrac = 0.2, bar = 0.95)
    },
      // Gate convention: the exact stratified split is a pure function of
      // the data (per-label md5-rank floor cut), so the oracle recomputes
      // the train/test sizes arithmetically and pins the accuracy booleans.
      """WITH s AS (
        |  SELECT doc_id % 2 AS topic, count(*) AS n FROM documents GROUP BY 1)
        |SELECT CAST(sum(n - floor(n * 0.2)) AS BIGINT) AS n_train,
        |  CAST(sum(floor(n * 0.2)) AS BIGINT) AS n_test,
        |  TRUE AS lr_accuracy_ok, TRUE AS svc_accuracy_ok
        |FROM s""".stripMargin),

    // Gopher-style rule-based quality gate (word-count / mean-word-length /
    // alphabetic-ratio / stopword floors), measurements + per-rule flags.
    QuerySpec("curation_gopher", (s, dir) => {
      Curation.gopherFlags(t(s, dir, "documents"), "text", "doc_id",
          stopwords = Seq("the", "a", "and"), minWords = 30)
        .orderBy("doc_id")
    },
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(words) AS n_words,
        |    CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words) AS mwl,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |      / len(words) AS ar,
        |    len(list_filter(words, x -> list_contains(['the', 'a', 'and'], x))) AS sw
        |  FROM w)
        |SELECT doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  round(mwl, 4) AS mean_word_len,
        |  round(ar, 4) AS alpha_ratio,
        |  CAST(sw AS BIGINT) AS stopword_hits,
        |  n_words BETWEEN 30 AND 100000 AS flag_word_count,
        |  mwl BETWEEN 3.0 AND 10.0 AS flag_mean_word_len,
        |  ar >= 0.8 AS flag_alpha_ratio,
        |  sw >= 2 AS flag_stopwords,
        |  (n_words BETWEEN 30 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
        |    AND ar >= 0.8 AND sw >= 2 AS quality_pass
        |FROM m
        |ORDER BY doc_id""".stripMargin),

    // Deterministic hash-based subsample: the sampling decision is a pure
    // function of doc_id (md5 fraction < 0.25), so retries/re-runs/other
    // engines agree row-for-row — which is exactly what the oracle checks.
    QuerySpec("curation_sample", (s, dir) => {
      Curation.sampleByHash(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("source"),
          round(Curation.hashFraction(col("doc_id")), 6).as("hash_frac"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, source,
        |  round(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |        / 1152921504606846976.0, 6) AS hash_frac
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < 0.25
        |ORDER BY doc_id""".stripMargin),

    // Per-source cap (the per-domain cap of web-corpus builds): keep at
    // most 15 docs per source, chosen by hash order with id tiebreak.
    QuerySpec("curation_source_cap", (s, dir) => {
      Curation.perSourceCap(t(s, dir, "documents"), "doc_id", "source", cap = 15)
        .select(col("doc_id"), col("source"), col("sample_rank"))
        .orderBy("doc_id")
    },
      // Shared by the window (curation_source_cap) and smallest_k-heap
      // (curation_cap_topk) cap forms — one oracle, green = equivalent.
      sourceCapOracle),

    // Per-source cap through the bounded smallest_k heap — same oracle as
    // curation_source_cap: green = heap ≡ window. The heap form shuffles
    // ≤ cap rows per (map task, source) instead of sorting every source's
    // documents inside the exchange.
    QuerySpec("curation_cap_topk", (s, dir) => {
      Curation.perSourceCapViaTopKAgg(t(s, dir, "documents"), "doc_id", "source",
          cap = 15)
        .orderBy("doc_id")
    }, sourceCapOracle),

    // Z-order (Morton) clustering key over two range-filter dimensions —
    // the write-time sort key that gives parquet min/max pruning on BOTH
    // columns. Pure codegen'd bit arithmetic; the oracle replays the
    // identical shift/mask chain in DuckDB.
    QuerySpec("curation_zorder", (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"),
          graft.functions.ZOrder.interleave(
            col("o_custkey"), floor(col("o_totalprice")).cast("bigint")).as("zkey"))
        .orderBy("o_orderkey")
    },
      // The identical magic-number spread chain (Morton 1966), stage by
      // stage, on DuckDB's BIGINT bit operators — integer-exact, so the
      // comparison is a hash match, not an approximation.
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(o_custkey AS BIGINT) & 4294967295 AS xa,
        |    CAST(floor(o_totalprice) AS BIGINT) & 4294967295 AS xb
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, (xa | (xa << 16)) & 281470681808895 AS xa,
        |                          (xb | (xb << 16)) & 281470681808895 AS xb FROM base),
        |s2 AS (SELECT o_orderkey, (xa | (xa << 8)) & 71777214294589695 AS xa,
        |                          (xb | (xb << 8)) & 71777214294589695 AS xb FROM s1),
        |s3 AS (SELECT o_orderkey, (xa | (xa << 4)) & 1085102592571150095 AS xa,
        |                          (xb | (xb << 4)) & 1085102592571150095 AS xb FROM s2),
        |s4 AS (SELECT o_orderkey, (xa | (xa << 2)) & 3689348814741910323 AS xa,
        |                          (xb | (xb << 2)) & 3689348814741910323 AS xb FROM s3),
        |s5 AS (SELECT o_orderkey, (xa | (xa << 1)) & 6148914691236517205 AS xa,
        |                          (xb | (xb << 1)) & 6148914691236517205 AS xb FROM s4)
        |SELECT o_orderkey, xa | (xb << 1) AS zkey FROM s5
        |ORDER BY o_orderkey""".stripMargin),

    // Deterministic shuffle-and-shard export: md5-mod shard id + in-shard
    // position by hash order — the reproducible global shuffle a trainer
    // streams shards from (replaces orderBy(rand())).
    QuerySpec("curation_shards", (s, dir) => {
      Curation.shuffledShards(t(s, dir, "documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("source"), col("shard"), col("shard_pos"))
        .orderBy("doc_id")
    },
      // Shard = md5-int mod 8 (integer-exact across engines); position =
      // rank by md5 hex within the shard, id tiebreak.
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex,
        |    CAST(CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 8
        |         AS INT) AS shard
        |  FROM documents)
        |SELECT doc_id, source, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY hex, doc_id) AS shard_pos
        |FROM h ORDER BY doc_id""".stripMargin),

    // EPOCH-aware reshuffle (Curation.epochShards): training loaders
    // re-permute the corpus every epoch — deterministically, so a
    // resumed job lays out the identical epoch. Per (epoch, shard):
    // doc count and the md5 of the shard's doc order — equal order_md5
    // across engines proves the PERMUTATION, not just membership; the
    // two epochs' digests differ (uncorrelated layouts) while their
    // membership counts rebalance independently. Per-shard windows
    // only — no global sort at any scale.
    QuerySpec("curation_epochs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val perEpoch = (0 to 1).map { e =>
        Curation.epochShards(docs, "doc_id", nShards = 8, epoch = e)
          .groupBy(col("epoch"), col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            md5(array_join(transform(
              array_sort(collect_list(struct(col("shard_pos"), col("doc_id")))),
              x => x.getField("doc_id").cast("string")), ",")).as("order_md5"))
      }
      perEpoch.reduce(_ unionByName _)
        .orderBy("epoch", "shard")
    },
      // Epoch replay: the md5(epoch, id) key chain and the ordered
      // doc-list digest per (epoch, shard) — equal digests prove the
      // permutation itself replays across engines.
      """WITH e AS (SELECT unnest([0, 1]) AS epoch),
        |k AS (SELECT e.epoch, d.doc_id,
        |    md5(concat(e.epoch, '_', d.doc_id)) AS hex
        |  FROM documents d, e),
        |s AS (SELECT epoch, doc_id, hex,
        |    CAST(CAST(concat('0x', substr(hex, 1, 15)) AS BIGINT) % 8 AS INT) AS shard
        |  FROM k)
        |SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY hex, doc_id)) AS order_md5
        |FROM s GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin),

    // Weighted sampling without replacement (Efraimidis-Spirakis): top-100
    // by u^(1/w) with u = md5 fraction, w = token count — token-budget
    // sampling whose draw is a pure function of the data. Plans as
    // TakeOrderedAndProject (per-task top-k, no global sort).
    QuerySpec("curation_weighted_sample", (s, dir) => {
      Curation.weightedSample(t(s, dir, "documents"), "doc_id",
          TextStats.tokenCount(col("text")), k = 100)
        .select(col("doc_id"),
          TextStats.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          round(col("es_key"), 6).as("es_key"))
        .orderBy("doc_id")
    },
      // Same ES keys from the same md5-derived u; selection compares the
      // UN-rounded keys in both engines (adjacent order-stat gaps ~n^-2
      // dwarf cross-libm pow ulps), output rounds to 6dp.
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS u
        |  FROM documents),
        |top AS (
        |  SELECT doc_id, n_tokens, pow(u, 1.0 / n_tokens) AS k
        |  FROM t ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_tokens, round(k, 6) AS es_key
        |FROM top ORDER BY doc_id""".stripMargin),

    // Exact stratified train/val/test split: per source, rank by md5 hex
    // and cut at floor(n*0.1) / floor(n*0.2) — proportions exact per
    // stratum, assignment a pure function of the data (oracle replays the
    // same rank/count windows row-for-row).
    QuerySpec("curation_split", (s, dir) => {
      Curation.stratifiedSplit(t(s, dir, "documents"), "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("source"), col("split_rank"),
          col("n_stratum"), col("split"))
        .orderBy("doc_id")
    },
      // Same rank/count windows over the same md5-hex order; the CASE cuts
      // replay Spark's floor(n*frac) boundaries with the same FP literals.
      """WITH h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY hex, doc_id) AS split_rank,
        |    count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM h)
        |SELECT doc_id, source, split_rank, n_stratum,
        |  CASE WHEN split_rank <= floor(n_stratum * 0.1) THEN 'test'
        |       WHEN split_rank <= floor(n_stratum * 0.2) THEN 'val'
        |       ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin),

    // GPT-style concat-and-chunk sequence packing: per source, docs in id
    // order cut every 2048 tokens; per-doc chunk span.
    QuerySpec("pack_chunks", (s, dir) => {
      Curation.packChunks(t(s, dir, "documents"), "text", "doc_id", "source",
          budget = 2048L)
        .orderBy("doc_id")
    },
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS cum_before
        |  FROM base)
        |SELECT doc_id, source, n_tokens,
        |  CAST(floor(cum_before / 2048) AS BIGINT) AS chunk_first,
        |  CAST(floor((cum_before + greatest(n_tokens, 1) - 1) / 2048) AS BIGINT)
        |    AS chunk_last,
        |  CAST(floor((cum_before + greatest(n_tokens, 1) - 1) / 2048)
        |       - floor(cum_before / 2048) + 1 AS BIGINT) AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin),

    // CCNet head/middle/tail perplexity buckets over the corpus-trained
    // unigram LM score — tercile cut points as a broadcast scalar, never a
    // global ntile window.
    QuerySpec("curation_ccnet_buckets", (s, dir) => {
      Curation.ccnetBuckets(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    },
      // The unigram-LM CTE is text_unigram_lm's replay; the tercile cuts use
      // the same shortest-repr double literals the Spark plan carries.
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |  FROM documents),
        |cnts AS (SELECT token, count(*) AS tf_corpus FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf_corpus) AS DOUBLE) AS total FROM cnts),
        |lp AS (
        |  SELECT t.doc_id,
        |    CAST(round(ln(c.tf_corpus / (SELECT total FROM tot)), 6)
        |         AS DECIMAL(18,6)) AS lp
        |  FROM toks t JOIN cnts c USING (token)),
        |scored AS (
        |  SELECT doc_id,
        |    round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS avg_nll
        |  FROM lp GROUP BY 1),
        |cuts AS (SELECT quantile_cont(avg_nll, 0.3333333333333333) AS c1,
        |                quantile_cont(avg_nll, 0.6666666666666666) AS c2
        |         FROM scored)
        |SELECT doc_id, avg_nll,
        |  CASE WHEN avg_nll <= (SELECT c1 FROM cuts) THEN 'head'
        |       WHEN avg_nll <= (SELECT c2 FROM cuts) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored ORDER BY doc_id""".stripMargin),

    // DSIR importance weights: hashed-bigram log-likelihood ratio of the
    // English-labeled target slice vs the raw corpus, deterministic top-20%
    // selection. Fully oracled — DuckDB replays hashing, smoothing, decimal
    // sums and the percentile threshold.
    QuerySpec("curation_dsir", (s, dir) => {
      Curation.dsirLogWeights(t(s, dir, "documents"), "text", "doc_id",
          isTarget = col("lang") === "en")
        .orderBy("doc_id")
    },
      // Full DSIR replay: portable md5-prefix feature hashing, add-one
      // smoothed per-bucket log-likelihood ratios rounded to decimal,
      // per-doc sums, and the 0.8-percentile selection threshold.
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(bg), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM (SELECT doc_id, lang,
        |          unnest(list_transform(generate_series(1, len(t) - 1),
        |            i -> t[i] || ' ' || t[i+1])) AS bg
        |        FROM toks WHERE len(t) >= 2)),
        |cs AS (SELECT b, count(*) AS cs FROM f GROUP BY 1),
        |ct AS (SELECT b, count(*) AS ct FROM f WHERE lang = 'en' GROUP BY 1),
        |tots AS (SELECT count(*) AS ts,
        |           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt FROM f),
        |lw AS (
        |  SELECT cs.b,
        |    CAST(round(ln(
        |      ((coalesce(ct.ct, 0) + 1.0) / (tots.tt + 1024))
        |        / ((cs.cs + 1.0) / (tots.ts + 1024))), 6) AS DECIMAL(18,6)) AS lw
        |  FROM cs LEFT JOIN ct ON cs.b = ct.b CROSS JOIN tots),
        |dw AS (
        |  SELECT f.doc_id, count(*) AS n_feats,
        |    CAST(sum(lw.lw) AS DOUBLE) AS log_w
        |  FROM f JOIN lw ON f.b = lw.b GROUP BY 1),
        |cut AS (SELECT quantile_cont(log_w, 0.8) AS c FROM dw)
        |SELECT doc_id, n_feats, log_w,
        |  log_w >= (SELECT c FROM cut) AS selected
        |FROM dw ORDER BY doc_id""".stripMargin),

    // Cluster-balanced subsample from the persisted IVF centroids: per-cell
    // cap in hash order — the semantic-diversity curation pass. Replayed
    // row-for-row from the same centroid table the ANN queries use.
    QuerySpec("curation_cluster_balance", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivf", "centroids") { p =>
        VectorIndex.fit(emb, Ivf(8)).write(emb, p)
      }
      Similarity.clusterBalancedSample(VectorIndex.read(s, path), emb, cap = 40)
        .orderBy("vec_id")
    },
      // Same persisted-centroid assignment replay as ann_ivf_topk (cr = 1),
      // then the per-cell hash-order rank and cap.
      s"""WITH cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('$root/ivf/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(e, centroid) AS d2
        |      FROM v, cent),
        |a AS (SELECT vec_id, cell FROM (
        |        SELECT vec_id, cell,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |        FROM d)
        |      WHERE cr = 1),
        |r AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY cell
        |          ORDER BY CAST(concat('0x', substr(md5(vec_id::VARCHAR), 1, 15)) AS BIGINT)
        |                     / 1152921504606846976.0, vec_id) AS cell_rank
        |      FROM a)
        |SELECT vec_id, cell, cell_rank, cell_rank <= 40 AS kept
        |FROM r ORDER BY vec_id""".stripMargin),

    // Incremental dedup: the src0 shard plays the "new batch" arriving
    // against the rest of the corpus — exact content-hash flag + capped
    // shingle-overlap near-dup flag per new doc.
    // Split-leakage audit — the eval-contamination check a training
    // pipeline runs AT SPLIT TIME: near-duplicate pairs (banded MinHash +
    // exact verify, the dedup_minhash kernel) that straddle the
    // deterministic stratified train/val/test split. Any row here means an
    // eval document has a near-copy in train — the within-pipeline twin of
    // dedup_contamination's external-benchmark check. Composition of two
    // already-oracled kernels, replayed end-to-end by the composed oracle.
    QuerySpec("curation_split_leakage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = Curation.stratifiedSplit(docs, "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      pairs
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
      // composed replay: the exact >= 0.7 pair set (minhashPairsOracle's
      // CTEs) joined to the deterministic split (curation_split's CTEs),
      // keeping only pairs whose endpoints land in different splits
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
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |h AS (
        |  SELECT doc_id, source, md5(doc_id::VARCHAR) AS hex FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY hex, doc_id) AS split_rank,
        |    count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM h),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN split_rank <= floor(n_stratum * 0.1) THEN 'test'
        |         WHEN split_rank <= floor(n_stratum * 0.2) THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM r)
        |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
        |       p.jaccard
        |FROM pairs p
        |JOIN sp sa ON sa.doc_id = p.doc_a
        |JOIN sp sb ON sb.doc_id = p.doc_b
        |WHERE sa.split <> sb.split
        |ORDER BY doc_a, doc_b""".stripMargin),

    // The FIX for what the leakage audit finds: split decided per near-dup
    // CLUSTER (hash of cluster_id), so duplicate families are indivisible
    // across train/val/test — leakage-free by construction, the group-aware
    // split production corpus builds use. CurationSpec pins the invariant;
    // the oracle replays clusters (recursive CTE) + the portable hash cut.
    QuerySpec("curation_split_grouped", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashBandedPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.7)
      val assign = Dedup.clusterAssignments(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"))
      Curation.groupAwareSplit(assign, testFrac = 0.1, valFrac = 0.1)
        .orderBy(col("doc_id"))
    },
      // composed replay: connected components over the exact pair set (the
      // dedup_clusters recursive CTE) + the portable md5 hash cut on the
      // cluster id — every cluster member provably gets one split
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
        |fr AS (
        |  SELECT doc_id, cluster_id,
        |    CAST(concat('0x', substr(md5(cluster_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 AS frac
        |  FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN frac < 0.1 THEN 'test'
        |       WHEN frac < 0.2 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM fr ORDER BY doc_id""".stripMargin),

    // Source-mixture sampling: 20k-token budget split across sources by an
    // integer weight derived from the source name (stand-in for a curated
    // weights table); big-share sources exercise the keep-whole cap at
    // sf0.01, small-share ones the hash downsample.
    QuerySpec("curation_mix", (s, dir) => {
      Curation.sourceMix(t(s, dir, "documents"), "text", "doc_id", "source",
          weight = substring(col("source"), 4, 10).cast("int") % 4 + 1,
          tokenBudget = 20000L)
        .orderBy("doc_id")
    },
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS DOUBLE) AS w
        |  FROM documents),
        |tot AS (
        |  SELECT source, sum(n_tokens) AS src_tokens, max(w) AS w
        |  FROM base GROUP BY 1),
        |sw AS (SELECT sum(w) AS sum_w FROM tot),
        |frac AS (
        |  SELECT source, least(1.0, w / sum_w * 20000 / src_tokens) AS keep_frac
        |  FROM tot, sw)
        |SELECT b.doc_id, b.source, b.n_tokens, round(f.keep_frac, 6) AS keep_frac
        |FROM base b JOIN frac f USING (source)
        |WHERE CAST(concat('0x', substr(md5(b.doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < f.keep_frac
        |ORDER BY doc_id""".stripMargin),

    // Source upsampling (the repeat pass for tail sources): each doc
    // emitted (source-derived) 1-3 times with an epoch column. Map-only
    // row explosion, no shuffle.
    QuerySpec("curation_upsample", (s, dir) => {
      Curation.upsampleRepeats(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          repeats = substring(col("source"), 4, 10).cast("int") % 3 + 1)
        .select(col("doc_id"), col("source"), col("epoch").cast("bigint"))
        .orderBy("doc_id", "epoch")
    },
      """SELECT doc_id, source, unnest(generate_series(1,
        |    CAST(substr(source, 4) AS INT) % 3 + 1)) AS epoch
        |FROM documents ORDER BY doc_id, epoch""".stripMargin),

    // Temperature-2 source mixing: weights derived from the corpus itself
    // (⌊√tokens_s⌋ — integer-exact sum, IEEE-exact sqrt, so the kept set
    // is bit-reproducible; other temperatures would need cross-libm pow).
    QuerySpec("curation_mix_temp", (s, dir) => {
      Curation.sourceMixTemperature2(t(s, dir, "documents"), "text", "doc_id",
          "source", tokenBudget = 10000L)
        .orderBy("doc_id")
    },
      // Same derived weights: floor(sqrt(src_tokens)) summed as integers,
      // identical left-to-right division chain.
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (
        |  SELECT source, sum(n_tokens) AS src_tokens,
        |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE))) AS BIGINT) AS w
        |  FROM base GROUP BY 1),
        |sw AS (SELECT sum(w) AS sum_w FROM tot),
        |frac AS (
        |  SELECT source,
        |    least(1.0, CAST(w AS DOUBLE) / sum_w * 10000 / src_tokens) AS keep_frac
        |  FROM tot, sw)
        |SELECT b.doc_id, b.source, b.n_tokens, round(f.keep_frac, 6) AS keep_frac
        |FROM base b JOIN frac f USING (source)
        |WHERE CAST(concat('0x', substr(md5(b.doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      / 1152921504606846976.0 < f.keep_frac
        |ORDER BY doc_id""".stripMargin)
  )

  /** Shared by `curation_source_cap` (row_number window) and
    * `curation_cap_topk` (bounded smallest_k heap): same (hash, id) total
    * order, so one oracle checks both — the green pair is the equivalence
    * proof.
    */
  private val sourceCapOracle: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
      |                 / 1152921504606846976.0, doc_id) AS sample_rank
      |  FROM documents)
      |SELECT doc_id, source, sample_rank
      |FROM ranked WHERE sample_rank <= 15
      |ORDER BY doc_id""".stripMargin
}
