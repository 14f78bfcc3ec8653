package graft
package queries

import graft.operators.{Retrieval, Similarity, VectorIndex}
import graft.operators.VectorIndex.{Ivf, IvfPq, Lsh, Pq}
import org.apache.spark.sql.functions._
import QueryCommon._

/** Vector and BM25 retrieval: brute force, LSH, IVF, PQ, IVF-PQ, their
  * persisted and streamed indexes, recall gates and hybrid fusion.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object AnnQueries {
  def specs(root: String): Seq[QuerySpec] = Seq(
    // Brute-force cosine top-k over embeddings (ANN baseline).
    QuerySpec("ann_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    }, bruteTopkOracle),

    // LSH-bucketed ANN (multi-table SRP signatures — the 100 TB path;
    // recall<1 by construction, measured by ann_lsh_recall below).
    // Multi-table SRP-LSH against PERSISTED hyperplanes (the planes ARE
    // the index). Fully oracled: DuckDB reads the same planes table and
    // replays sign-bit bucket assignment, the any-table candidate union,
    // and the cosine top-5 row-for-row. Recall gated by ann_lsh_recall.
    QuerySpec("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "lsh", "planes") { p =>
        VectorIndex.fit(emb, Lsh(dim = 64, bits = 4, tables = 16)).write(emb, p)
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10), k = 5, Some(emb))
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // Replay oracle for the persisted-planes LSH search: bucket = OR of
      // sign bits of dot products against the stored hyperplanes; a corpus
      // row is a candidate if it shares any (table, bucket) with the query;
      // candidates dedup to pairs and rank by rounded cosine with id
      // tiebreak — row-identical to lshSearch.
      s"""WITH pl AS (
        |  SELECT tbl, bit, plane
        |  FROM read_parquet('$root/lsh/*/planes/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sig AS (SELECT vec_id, tbl,
        |          sum(CASE WHEN list_inner_product(e, plane) >= 0
        |              THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
        |        FROM v, pl GROUP BY vec_id, tbl),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |         FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |         WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |scored AS (SELECT query_id, neighbor_id,
        |             round(list_cosine_similarity(qv.e, nv.e), 4) AS sim
        |           FROM cand
        |           JOIN v qv ON cand.query_id = qv.vec_id
        |           JOIN v nv ON cand.neighbor_id = nv.vec_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),

    // IVF ANN against PERSISTED centroids (seeded sample-fit KMeans; the
    // build-once/query-many split). Given the centroids table, assignment
    // and ranking are pure functions of the data — so this query is FULLY
    // oracled: DuckDB reads the same parquet centroids and replays
    // cell assignment, the nProbe=4 probe set, and the cosine top-k
    // row-for-row. Recall vs brute force is gated by ann_ivf_recall.
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivf", "centroids") { p =>
        VectorIndex.fit(emb, Ivf(8)).write(emb, p)
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10), k = 5,
          corpus = Some(emb), nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // Replay oracle for the persisted-index IVF search: the KMeans FIT is
      // not SQL-expressible, but given the persisted centroids the rest is —
      // DuckDB reads the same parquet table (glob over the size-keyed index
      // dirs, filtered on the stamped n_corpus) and replays raw-space cell
      // assignment (rank by |c|^2 − 2x·c with cell tiebreak), the nProbe=4
      // probe set, and the in-cell cosine top-5 row-for-row.
      ivfTopkOracle(root, "ivf")),

    // The SAME IVF search over the cell-partitioned vector layout (the
    // partition-column shape the IVF-PQ scaladoc names as the 100 TB
    // index): vectors ship hive-partitioned by assigned cell, the query
    // batch's probed cells become scan-time literals, and the vectors scan
    // carries a `cell` PartitionFilter (PlanInvariantsSpec pins it) —
    // non-probed directories are never listed, where the flat path must
    // scan the corpus to recompute assignments. Same oracle as
    // ann_ivf_topk read from the partitioned index's centroids.
    QuerySpec("ann_ivf_pruned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivfpart", "vectors") { p =>
        VectorIndex.fit(emb, Ivf(8)).write(emb, p, partitioned = true)
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // identical replay from the partitioned index's own centroids table
      // (assignments are a pure function of vectors × centroids, so the
      // oracle need never read the hive-partitioned vectors files)
      ivfTopkOracle(root, "ivfpart")),

    // The STREAMED cell-partitioned IVF index (VectorIngest): two
    // doc-disjoint micro-batches land on the layout (centroids trained by
    // the first, reused by the second), then the standard partitioned
    // search runs over the accumulation. nProbe = nCells probes every
    // cell, making the search EXACT — so the brute-force oracle verifies
    // the accumulation itself: every batch's vectors present exactly
    // once, correctly assigned and scored. A one-row sentinel is written
    // LAST so ensureIndex's marker can never see a half-built stream.
    QuerySpec("ann_ivf_streamed", (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivfstream", "built") { p =>
        graft.streaming.VectorIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p, nCells = 8)
        graft.streaming.VectorIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p, nCells = 8)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10),
          k = 5, nProbe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // probing every cell makes IVF exact, so the STREAMED index query is
      // verified against the same brute-force replay — what the hash then
      // proves is the accumulation itself: every micro-batch's vectors
      // present exactly once, correctly assigned and scored
      bruteTopkOracle),

    // Recall gates for the two approximate ANN paths: avg recall@5 against
    // the brute-force baseline must clear 0.6 (measured 0.86/0.96 LSH and
    // 0.80/0.78 IVF at sf0.01/sf0.1, measured with the former `tools/AnnProbe`). The DuckDB
    // oracle asserts the boolean, so a silent recall regression becomes a
    // hash mismatch. Everything is seeded, so the value is deterministic.
    QuerySpec("ann_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val lsh = VectorIndex.fit(emb, Lsh(dim = 64, bits = 4, tables = 16)).search(q, 5, Some(emb))
      Similarity.recallAtK(lsh, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    },
      // The approximate-ANN recall gates: DuckDB can't run the LSH/IVF paths,
      // but it CAN assert the contract — 10 queries measured, avg recall@5
      // over the 0.6 bar. If a code change degrades recall, the Spark side
      // emits recall_ok=false and the hash comparison fails the round.
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10"),

    QuerySpec("ann_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val ivf = VectorIndex.fit(emb, Ivf(8), corpusId = Some(dir))
        .search(q, k = 5, corpus = Some(emb), nProbe = 4)
      Similarity.recallAtK(ivf, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    },
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10"),

    // PQ-compressed ANN (ADC scan over m-byte codes + exact re-rank of a
    // refine*k shortlist) — the memory-bound scale path — against the
    // PERSISTED index. Given the codebooks + codes tables, the ADC lookup
    // tables, shortlist and re-rank are deterministic, so the query is
    // FULLY oracled: DuckDB reads the same parquet index and replays the
    // whole search row-for-row. Recall is gated by ann_pq_recall.
    QuerySpec("ann_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "pq", "codes") { p =>
        VectorIndex.fit(emb, Pq()).write(emb, p)
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10),
          k = 5, corpus = Some(emb), refine = 32)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // Replay oracle for the persisted-index PQ search: given the codebooks
      // and codes tables, DuckDB rebuilds the per-query ADC lookup tables
      // (t_j[c] = q_j · centroid_{j,c} over the normalized query subvectors),
      // scores every code row as t_0[code_0] + … + t_7[code_7] in the same
      // left-to-right order, cuts the refine×k=160 shortlist (rounded-ADC
      // desc, id tiebreak), and exact-re-ranks it with normalized dot
      // products — row-identical to pqSearch.
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |books AS (
        |  SELECT subspace, centroid_id, centroid
        |  FROM read_parquet('$root/pq/*/codebooks/*.parquet')
        |  WHERE n_corpus = (SELECT n FROM nn)),
        |codes AS (
        |  SELECT * FROM read_parquet('$root/pq/*/codes/*.parquet')
        |  WHERE n_corpus = (SELECT n FROM nn)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS (SELECT vec_id,
        |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
        |       FROM (SELECT vec_id, e,
        |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
        |qn AS (SELECT vec_id AS query_id, nvec AS qv FROM nv WHERE vec_id < 10),
        |qt AS (SELECT query_id, subspace, centroid_id,
        |         list_inner_product(qv[(subspace * 8 + 1):(subspace * 8 + 8)],
        |                            centroid) AS t
        |       FROM qn, books),
        |scored AS (
        |  SELECT q.query_id, c.neighbor_id,
        |    round(t0.t + t1.t + t2.t + t3.t + t4.t + t5.t + t6.t + t7.t, 4) AS adc
        |  FROM codes c CROSS JOIN qn q
        |  JOIN qt t0 ON t0.query_id = q.query_id AND t0.subspace = 0 AND t0.centroid_id = c.code_0 - 1
        |  JOIN qt t1 ON t1.query_id = q.query_id AND t1.subspace = 1 AND t1.centroid_id = c.code_1 - 1
        |  JOIN qt t2 ON t2.query_id = q.query_id AND t2.subspace = 2 AND t2.centroid_id = c.code_2 - 1
        |  JOIN qt t3 ON t3.query_id = q.query_id AND t3.subspace = 3 AND t3.centroid_id = c.code_3 - 1
        |  JOIN qt t4 ON t4.query_id = q.query_id AND t4.subspace = 4 AND t4.centroid_id = c.code_4 - 1
        |  JOIN qt t5 ON t5.query_id = q.query_id AND t5.subspace = 5 AND t5.centroid_id = c.code_5 - 1
        |  JOIN qt t6 ON t6.query_id = q.query_id AND t6.subspace = 6 AND t6.centroid_id = c.code_6 - 1
        |  JOIN qt t7 ON t7.query_id = q.query_id AND t7.subspace = 7 AND t7.centroid_id = c.code_7 - 1
        |  WHERE c.neighbor_id <> q.query_id),
        |short AS (SELECT query_id, neighbor_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id
        |     ORDER BY adc DESC, neighbor_id) AS rn FROM scored)
        |  WHERE rn <= 160),
        |rescored AS (SELECT s.query_id, s.neighbor_id,
        |    round(list_inner_product(q.qv, n.nvec), 4) AS sim
        |  FROM short s
        |  JOIN nv n ON s.neighbor_id = n.vec_id
        |  JOIN qn q ON s.query_id = q.query_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM rescored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),

    QuerySpec("ann_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val pq = VectorIndex.fit(emb, Pq(), corpusId = Some(dir)).search(q, 5, Some(emb), refine = 32)
      Similarity.recallAtK(pq, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    },
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10"),

    // IVF-PQ: coarse cells prune the scan (nProbe/nCells of the corpus),
    // PQ codes compress what is scanned — the canonical 100 TB index
    // layout — against BOTH persisted index halves. Fully oracled: given
    // the centroids and codebooks tables, cell assignment, PQ encoding,
    // ADC scoring and re-rank are all deterministic, and DuckDB replays
    // the composition row-for-row. Recall gated by ann_ivfpq_recall.
    QuerySpec("ann_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivfPath = ensureIndex(s, root, emb, "ivf", "centroids") { p =>
        VectorIndex.fit(emb, Ivf(8)).write(emb, p)
      }
      // the PQ half at the r12 accuracy budget: ksub=32 direct-coded
      // books (residual coding was A/B'd and REJECTED on this corpus —
      // near-isotropic unit vectors make residuals carry more energy
      // than the vectors; see VectorIndex.IvfPq's scaladoc), and
      // nProbe=6 because the probe-4 IVF ceiling is 0.78 recall@5 at
      // sf0.1 — no code quality can clear 0.80 under it
      val pqPath = ensureIndex(s, root, emb, "pq32", "codes") { p =>
        VectorIndex.fit(emb, Pq(ksub = 32)).write(emb, p)
      }
      VectorIndex.read(s, ivfPath, pqPath).search(emb.filter(col("vec_id") < 10),
          k = 5, corpus = Some(emb), nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // Replay oracle for the composed IVF-PQ search: both persisted halves
      // read back; the corpus' PQ codes are taken from the persisted codes
      // table (identical by construction — same codebooks, same normalized
      // vectors, same argmin), the IVF side restricts which (query, code)
      // pairs are ADC-scored to the query's 6 probed cells, and shortlist +
      // exact re-rank replay as in ann_pq_topk.
      ivfPqTopkOracle(root, "ivf", "pq32", "codes/*.parquet")),

    // The production vector-index read path in full: ONE persisted package
    // (centroids + codebooks + cell-partitioned codes with NO stored
    // vectors — m one-byte codes per vector is the whole payload), probed
    // cells as scan-time literals so the codes scan carries a cell
    // PartitionFilter, ADC over the pruned slice, exact re-rank fetching
    // true vectors from the live corpus. Same oracle shape as
    // ann_ivfpq_topk, read from this index's own tables.
    QuerySpec("ann_ivfpq_pruned", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivfpqpart32", "codes") { p =>
        VectorIndex.fit(emb, IvfPq(ksub = 32)).write(emb, p, partitioned = true)
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10),
          k = 5, corpus = Some(emb), nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // identical replay from the partitioned package's own three tables;
      // the codes glob gains the cell= directory level (DuckDB's hive
      // detection surfaces cell as a column the replay's qualified joins
      // simply never reference)
      ivfPqTopkOracle(root, "ivfpqpart32", "ivfpqpart32", "codes/*/*.parquet")),

    // The streamed build of the SAME production package (PqIngest):
    // meta bootstrapped from the corpus snapshot with the same seeded
    // fits as the batch writer, then two doc-disjoint micro-batches
    // encode against the frozen codebooks and append their codes under
    // cell=/batch_id=. The shared assignment/encoding kernels make the
    // accumulated codes — and therefore the search — row-identical to
    // ann_ivfpq_pruned, so the same replay oracle verifies that a
    // streamed index can never drift from its batch-built twin.
    QuerySpec("ann_ivfpq_streamed", (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivfpqstream32", "built") { p =>
        // crash-reentrant: a run killed between the first processBatch and
        // the built sentinel leaves codes/ behind, and bootstrap
        // (correctly) refuses to re-fit meta over live codes — so a
        // re-entered build clears the partial index first; the seeded
        // fits make the rebuild byte-identical.
        val fsP = new org.apache.hadoop.fs.Path(p)
        fsP.getFileSystem(s.sessionState.newHadoopConf()).delete(fsP, true)
        graft.streaming.PqIngest.bootstrap(emb, p, nCells = 8, ksub = 32)
        graft.streaming.PqIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p)
        graft.streaming.PqIngest.processBatch(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      VectorIndex.read(s, path).search(emb.filter(col("vec_id") < 10),
          k = 5, corpus = Some(emb), nProbe = 6)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // the streamed oracle replays from the STREAMED index's own persisted
      // tables (one more glob level for the cell=/batch_id= nesting) — so
      // the hash proves the accumulated tables themselves, and since the
      // result must equal the batch-built twin's (shared seeded fits +
      // shared encoding kernels), drift between the two is impossible
      ivfPqTopkOracle(root, "ivfpqstream32", "ivfpqstream32", "codes/*/*/*.parquet")),

    // Gate raised 0.6 → 0.8 this round with the budget that honestly buys
    // it: ksub 16→32 (fine-grained ADC) + nProbe 4→6 (the probe-4 IVF
    // ceiling is 0.78 at sf0.1, so no code quality clears 0.8 under it).
    // Residual coding was A/B'd for this gate and rejected — on this
    // corpus's near-isotropic unit vectors it LOWERS recall (see
    // VectorIndex.IvfPq).
    QuerySpec("ann_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val ivfpq = VectorIndex.fit(emb, IvfPq(ksub = 32), corpusId = Some(dir))
        .search(q, k = 5, corpus = Some(emb), nProbe = 6)
      Similarity.recallAtK(ivfpq, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.8).as("recall_ok"))
    },
      "SELECT count(DISTINCT vec_id) AS n_queries, TRUE AS recall_ok FROM embeddings WHERE vec_id < 10"),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): KMeans cells, exact
    // cosine within a cell only — against the PERSISTED centroids (the
    // same table ann_ivf_topk searches). Given the cells, the whole pass
    // is deterministic, so the query is FULLY oracled: DuckDB replays
    // normalized assignment, the 2-probe overlap, intra-cell cosine and
    // the pair dedup row-for-row. Subset of dedup_embedding_pairs by
    // construction (precision 1); recall measured by dedup_semantic_recall.
    QuerySpec("dedup_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = ensureIndex(s, root, emb, "ivf", "centroids") { p =>
        VectorIndex.fit(emb, Ivf(8)).write(emb, p)
      }
      Similarity.semanticPairs(VectorIndex.read(s, path), emb, threshold = 0.45,
          assignProbes = 2)
        .orderBy("doc_a", "doc_b")
    },
      // Replay oracle for the persisted-centroid SemDeDup pass: normalized
      // vectors, per-cell d2 ranking with the 2-probe overlap, intra-cell
      // exact cosine over a<b pairs, threshold, and the multi-cell pair
      // dedup via max — row-identical to Similarity.semanticPairs.
      s"""WITH cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('$root/ivf/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |nv AS (SELECT vec_id,
        |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
        |       FROM (SELECT vec_id, e,
        |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(nvec, centroid) AS d2
        |      FROM nv, cent),
        |asg AS (SELECT vec_id, cell FROM
        |          (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |           FROM d)
        |        WHERE cr <= 2),
        |pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |            round(list_inner_product(na.nvec, nb.nvec), 4) AS sim
        |          FROM asg a
        |          JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |          JOIN nv na ON a.vec_id = na.vec_id
        |          JOIN nv nb ON b.vec_id = nb.vec_id)
        |SELECT doc_a, doc_b, max(sim) AS sim
        |FROM pairs WHERE sim >= 0.45
        |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin),

    // Recall gate for the semantic path: fraction of the exact cosine pairs
    // (threshold 0.45) that survive the cluster partition. The DuckDB
    // oracle recomputes the exact pair count and asserts the boolean, so a
    // silent recall regression becomes a hash mismatch.
    QuerySpec("dedup_semantic_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.cosinePairs(emb, threshold = 0.45)
      val sem = Similarity.semanticPairs(VectorIndex.fit(emb, Ivf(8), corpusId = Some(dir)),
        emb, threshold = 0.45, assignProbes = 2)
      Similarity.pairRecall(sem, exact, bar = 0.5)
    },
      // Semantic-dedup recall gate: DuckDB can't run the KMeans partition, but
      // it CAN recompute the exact pair universe and assert the boolean.
      """SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
        |FROM (
        |  SELECT a.vec_id FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 4) >= 0.45
        |)""".stripMargin),

    // Per-vector int8 quantization (4x embedding storage cut) with the
    // reconstruction-error bound proven per row. The quantized vector is
    // emitted as its JSON text (both engines print int lists as compact
    // `[1,-2,...]`) so the oracle compare's row sort compares a plain string —
    // an array column crashes pandas' sort_values in the harness.
    QuerySpec("embed_quantize", (s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .withColumn("q8", to_json(col("q8")))
        .orderBy("vec_id")
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) AS scale FROM v)
        |SELECT vec_id,
        |  CAST(to_json(CASE WHEN scale > 0
        |    THEN list_transform(e, x -> CAST(round(x / scale * 127) AS INT))
        |    ELSE list_transform(e, x -> 0) END) AS VARCHAR) AS q8,
        |  round(scale, 6) AS scale,
        |  CASE WHEN scale > 0
        |    THEN round(list_max(list_transform(e,
        |           x -> abs(x - CAST(round(x / scale * 127) AS INT) * scale / 127.0))), 6)
        |    ELSE 0.0 END AS max_abs_err
        |FROM s ORDER BY vec_id""".stripMargin),

    // Quantization quality gate: top-5 cosine neighbors computed on the
    // DEQUANTIZED int8 vectors vs the float baseline — avg recall@5 emitted
    // as a value (fully oracled: DuckDB replicates the dequantization
    // bit-for-bit, so the recall itself is cross-checked, not just a bar).
    QuerySpec("ann_quantized_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val deq = Similarity.quantizeInt8(emb)
        .select(col("vec_id"),
          transform(col("q8"), x => x * col("scale") / lit(127.0d)).as("embedding"))
      val q = emb.filter(col("vec_id") < 10)
      val deqQ = deq.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      val qtop = Similarity.bruteForceTopK(deq, deqQ, k = 5)
      Similarity.recallAtK(qtop, brute)
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("avg_recall"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
        |dq AS (SELECT vec_id,
        |        CASE WHEN scale > 0
        |          THEN list_transform(e,
        |                 x -> CAST(round(x / scale * 127) AS INT) * round(scale, 6) / 127.0)
        |          ELSE list_transform(e, x -> 0.0) END AS e
        |       FROM s),
        |bt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |qt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM dq q, dq c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT b.query_id,
        |    round(count(q.neighbor_id) / 5.0, 4) AS recall
        |  FROM bt b LEFT JOIN qt q USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(recall), 4) AS avg_recall
        |FROM rec""".stripMargin),

    // Dimension-truncation ANN gate (matryoshka-style storage knob: keep a
    // 16-dim prefix of the 64-dim embedding — 4x less memory/IO per probe)
    // — same FULLY-oracled ranking-loss shape as ann_quantized_recall:
    // DuckDB replicates the truncation, so the recall VALUE is
    // cross-checked, not just bounded. Measured verdict on THIS corpus:
    // 0.08 — the synthetic embeddings are iid across dimensions, so a
    // prefix keeps ~1/4 of the energy and none of the ranking (real
    // matryoshka-trained embeddings front-load variance and pass). That
    // is the point of shipping the gate: int8 measured 0.98 (enable),
    // truncation measured 0.08 (do not enable) — the knob is gated by
    // measurement, not by assumption.
    QuerySpec("ann_truncated_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tr = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      val ttop = Similarity.bruteForceTopK(tr, tr.filter(col("vec_id") < 10), k = 5)
      Similarity.recallAtK(ttop, brute)
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("recall")), 4).as("avg_recall"))
    },
      // Same two-baseline recall shape as ann_quantized_recall, with the
      // int8 dequantization swapped for a 16-dim prefix slice.
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |tr AS (SELECT vec_id, e[1:16] AS e FROM v),
        |bt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |qt AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.e, c.e), 4) DESC, c.vec_id) AS rn
        |    FROM tr q, tr c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |rec AS (
        |  SELECT b.query_id,
        |    round(count(q.neighbor_id) / 5.0, 4) AS recall
        |  FROM bt b LEFT JOIN qt q USING (query_id, neighbor_id)
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  round(avg(recall), 4) AS avg_recall
        |FROM rec""".stripMargin),

    // BM25 full-text search served from the PERSISTED inverted index
    // (token→postings + doc lengths under the corpus-size-keyed dir —
    // build-once/query-many like the ANN indexes). Queries = the first 8
    // tokens of every doc_id ≡ 7 (mod 100); the search scans ONLY
    // postings rows matching the broadcast query-term set, never the
    // documents, and ranks through the bounded smallest_k heap. Fully
    // oracled: DuckDB recomputes df/N/avgdl from the same persisted
    // tables and replays the per-term rounded-decimal scoring row-for-row.
    QuerySpec("text_bm25_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, root, docs, "bm25", "stats") { p =>
        Retrieval.writeIndex(docs, "text", "doc_id", p)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopKFromIndex(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    },
      // Replay oracle for the persisted-index BM25 search: df/N/avgdl are
      // recomputed from the SAME postings/doclens parquet the engine
      // searched, every per-term score is the identical rounded-decimal
      // expression, and the ranking replays row-for-row. SHARED with
      // text_bm25_incremental (the doc-disjoint batch-union index): one
      // oracle, two implementations — green rows prove the inverted index
      // merges additively (batches never rebuild the corpus index).
      bm25TopkOracle(root, "bm25", "postings/*.parquet")),

    // The SAME search over the token-partitioned index layout (the 100 TB
    // path the flat index's scaladoc promises): postings are written
    // hive-partitioned on pmod(xxhash64(token), 16) and the search's
    // PartitionFilters prune non-matching tok_bucket directories before a
    // file is opened (PlanInvariantsSpec pins the prune). Scores via the
    // shared bm25Score path — same oracle shape as text_bm25_topk, read
    // from the partitioned files.
    QuerySpec("text_bm25_pruned", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, root, docs, "bm25part", "stats") { p =>
        Retrieval.writeIndexPartitioned(docs, "text", "doc_id", p, nBuckets = 16)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopKPruned(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    },
      // identical replay over the hive-partitioned layout: the tok_bucket
      // directory level adds one glob segment; DuckDB's hive-partition
      // detection surfaces tok_bucket as a column the query simply ignores
      bm25TopkOracle(root, "bm25part", "postings/*/*.parquet")),

    // The STREAMED partitioned BM25 index as an oracled registry row (it was
    // spec-verified only): two doc-disjoint micro-batches append their
    // postings under the tok_bucket= dirs via IndexIngest, then the
    // pruned searcher runs over the accumulation. The oracle recomputes
    // df/N/avgdl from the streamed tables themselves and replays scoring —
    // so the hash proves the accumulated postings/doclens, not just the
    // search. Same query set as text_bm25_pruned: equal rows = the
    // streamed index answers exactly like the batch-built one.
    QuerySpec("text_bm25_streamed", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val path = ensureIndex(s, root, docs, "bm25stream", "built") { p =>
        graft.streaming.IndexIngest.processBatchPartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, p,
          "text", "doc_id", nBuckets = 16)
        graft.streaming.IndexIngest.processBatchPartitioned(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, p,
          "text", "doc_id", nBuckets = 16)
        Seq(2).toDF("n_batches").coalesce(1).write.mode("overwrite")
          .parquet(s"$p/built")
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      graft.streaming.IndexIngest.bm25TopKPruned(s, path, q, k = 10)
        .orderBy("query_id", "rank")
    },
      // replays from the STREAMED index's own tables
      bm25TopkOracle(root, "bm25stream", "postings/*/*/*.parquet", "doclens/*/*.parquet",
        streamed = true)),

    // The incremental-maintenance contract for the inverted index, proven
    // under text_bm25_topk's SHARED oracle: the index is built as two
    // doc-disjoint batch halves whose postings/doclens tables simply
    // union (per-(token, doc) counts are additive and batches are
    // doc-disjoint, so no re-aggregation is even needed), and the search
    // over the union must equal the search over the one-shot index — at
    // 100 TB a new batch appends its postings partition instead of
    // rebuilding the corpus index.
    QuerySpec("text_bm25_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the SHARED oracle replays from the persisted index — ensure it
      // exists so this query verifies standalone, not only after its
      // sibling happens to have built the index
      ensureIndex(s, root, docs, "bm25", "stats") { p =>
        Retrieval.writeIndex(docs, "text", "doc_id", p)
      }
      val (p1, d1) = Retrieval.invertedIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id")
      val (p2, d2) = Retrieval.invertedIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id")
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      Retrieval.bm25TopK(p1.unionAll(p2), d1.unionAll(d2), q, k = 10)
        .orderBy("query_id", "rank")
    }, bm25TopkOracle(root, "bm25", "postings/*.parquet")),

    // Hybrid lexical+vector retrieval: BM25 top-20 (from the persisted
    // index) fused with cosine top-20 (vec_id aligns with doc_id) by
    // reciprocal-rank fusion, 1/(60+rank) rounded-decimal sums. The fused
    // ordering depends only on RANKS, so the two systems' incomparable
    // scores never mix; the oracle replays both rankings and the fusion.
    QuerySpec("hybrid_rrf_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      // lexical leg rides the PARTITIONED index — the production layout:
      // query-term buckets prune the postings listing before any file
      // opens; row-identical to the flat search (Retrieval scaladoc +
      // shared oracle shape), just with the 100 TB-shaped scan
      val path = ensureIndex(s, root, docs, "bm25part", "stats") { p =>
        Retrieval.writeIndexPartitioned(docs, "text", "doc_id", p, nBuckets = 16)
      }
      val q = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id").as("query_id"),
          array_join(slice(split(lower(trim(col("text"))), " "), 1, 8), " ")
            .as("qtext"))
      val lexical = Retrieval.bm25TopKPruned(s, path, q, k = 20)
      val vector = Similarity.bruteForceTopK(emb,
          emb.filter(pmod(col("vec_id"), lit(100)) === 7), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("bigint").as("rank"))
      Retrieval.rrfFuse(Seq(lexical.select("query_id", "doc_id", "rank"),
          vector), k = 10)
        .orderBy("query_id", "rank")
    },
      // Hybrid fusion replay: BM25 top-20 from the persisted index + cosine
      // top-20 over the aligned embeddings, fused as rounded-decimal
      // 1/(60+rank) sums — rank-space fusion, replayed end-to-end.
      s"""WITH posts AS (
        |  SELECT token, doc_id, tf
        |  FROM read_parquet('$root/bm25part/*/postings/*/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |lens AS (
        |  SELECT doc_id, dl
        |  FROM read_parquet('$root/bm25part/*/doclens/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |stats AS (SELECT count(*) AS n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
        |dfs AS (SELECT token, count(*) AS df FROM posts GROUP BY 1),
        |q AS (SELECT doc_id AS query_id,
        |        list_distinct(list_slice(string_split(lower(trim(text)), ' '), 1, 8)) AS qt
        |      FROM documents WHERE doc_id % 100 = 7),
        |qterms AS (SELECT query_id, unnest(qt) AS token FROM q),
        |scored AS (
        |  SELECT qt.query_id, p.doc_id,
        |    sum(CAST(round(
        |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
        |      * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * l.dl / s.avgdl))),
        |      6) AS DECIMAL(18,6))) AS sc
        |  FROM posts p
        |  JOIN qterms qt USING (token)
        |  JOIN dfs d USING (token)
        |  JOIN lens l ON p.doc_id = l.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |bm AS (SELECT query_id, rn AS rank, doc_id
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |               ORDER BY sc DESC, doc_id) AS rn FROM scored)
        |       WHERE rn <= 20),
        |vq AS (SELECT * FROM embeddings WHERE vec_id % 100 = 7),
        |vscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |          CAST(c.embedding AS DOUBLE[])), 4) AS sim
        |  FROM vq q, embeddings c WHERE c.vec_id <> q.vec_id),
        |vec AS (SELECT query_id, rn AS rank, doc_id
        |        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |                ORDER BY sim DESC, doc_id) AS rn FROM vscored)
        |        WHERE rn <= 20),
        |contrib AS (
        |  SELECT query_id, doc_id,
        |    CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS rc FROM bm
        |  UNION ALL
        |  SELECT query_id, doc_id,
        |    CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS rc FROM vec),
        |fused AS (
        |  SELECT query_id, doc_id, sum(rc) AS fscore, count(*) AS n_lists
        |  FROM contrib GROUP BY 1, 2)
        |SELECT query_id, rn AS rank, doc_id, CAST(fscore AS DOUBLE) AS rrf,
        |  n_lists
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY fscore DESC, doc_id) AS rn FROM fused)
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin),

    // Diversity-aware re-ranking: MMR over the brute-force top-20
    // shortlist — near-duplicates of an already-picked result are
    // demoted by the max-similarity penalty. Fully oracled: DuckDB
    // replays the greedy selection as a recursive CTE.
    QuerySpec("ann_mmr_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(100)) === 7)
      val cand = Similarity.bruteForceTopK(emb, q, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("sim").as("rel"))
        .join(emb.select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("vec")), Seq("doc_id"))
      Retrieval.mmrRerank(cand, k = 10)
        .orderBy("query_id", "rank")
    },
      // MMR greedy-selection replay: per step the recursive CTE appends the
      // argmax of 0.75·rel − 0.25·max-sim-to-picked (ties to the smallest
      // doc_id — the engine's strict-> ascending scan); the final select
      // recomputes each step's score from its picked prefix.
      """WITH RECURSIVE
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    round(list_cosine_similarity(q.e, c.e), 4) AS rel, c.e AS e
        |  FROM v q, v c WHERE q.vec_id % 100 = 7 AND c.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT query_id, doc_id, rel, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id) AS rn FROM sc)
        |  WHERE rn <= 20),
        |sel AS (
        |  SELECT query_id, 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  FROM (SELECT DISTINCT query_id FROM cand)
        |  UNION ALL
        |  SELECT s.query_id, s.step + 1,
        |    list_append(s.picked, (
        |      SELECT c.doc_id FROM cand c
        |      WHERE c.query_id = s.query_id
        |        AND NOT list_contains(s.picked, c.doc_id)
        |      ORDER BY 0.75*c.rel - 0.25*coalesce((
        |          SELECT max(round(list_cosine_similarity(c.e, p.e), 4))
        |          FROM cand p WHERE p.query_id = s.query_id
        |            AND list_contains(s.picked, p.doc_id)), 0.0) DESC,
        |        c.doc_id
        |      LIMIT 1))
        |  FROM sel s WHERE s.step < least(10,
        |    (SELECT count(*) FROM cand c WHERE c.query_id = s.query_id))),
        |fin AS (
        |  SELECT query_id, step, picked[step] AS doc_id,
        |    list_slice(picked, 1, step - 1) AS prev
        |  FROM sel WHERE step > 0)
        |SELECT f.query_id, CAST(f.step AS BIGINT) AS rank, f.doc_id,
        |  round(0.75*c.rel - 0.25*coalesce((
        |      SELECT max(round(list_cosine_similarity(c.e, p.e), 4))
        |      FROM cand p WHERE p.query_id = f.query_id
        |        AND list_contains(f.prev, p.doc_id)), 0.0), 6) AS mmr
        |FROM fin f JOIN cand c
        |  ON c.query_id = f.query_id AND c.doc_id = f.doc_id
        |ORDER BY f.query_id, rank""".stripMargin)
  )

  /** Replay oracle for the persisted-centroid IVF searches: assignments
    * are recomputed as a pure function of the live embeddings × the
    * persisted centroids, probed (cr ≤ 4), scored and top-5-cut exactly
    * as ivfSearch does. Shared by `ann_ivf_topk` and (with the `ivfpart`
    * glob) `ann_ivf_pruned` — the partitioned layout changes WHERE the
    * vectors live, not what the search returns.
    */
  private def ivfTopkOracle(root: String, kind: String): String =
    s"""WITH cent AS (
      |  SELECT cell, centroid
      |  FROM read_parquet('$root/$kind/*/centroids/*.parquet')
      |  WHERE n_corpus = (SELECT count(*) FROM embeddings)),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, cell,
      |        list_inner_product(centroid, centroid)
      |          - 2.0 * list_inner_product(e, centroid) AS d2
      |      FROM v, cent),
      |ranked AS (SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
      |           FROM d),
      |cells AS (SELECT r.vec_id AS neighbor_id, v.e AS nvec, r.cell
      |          FROM ranked r JOIN v USING (vec_id) WHERE cr = 1),
      |probes AS (SELECT r.vec_id AS query_id, v.e AS qvec, r.cell
      |           FROM ranked r JOIN v USING (vec_id)
      |           WHERE cr <= 4 AND r.vec_id < 10),
      |scored AS (SELECT query_id, neighbor_id,
      |             round(list_cosine_similarity(qvec, nvec), 4) AS sim
      |           FROM cells JOIN probes USING (cell)
      |           WHERE neighbor_id <> query_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replay oracle for the persisted IVF-PQ searches: assignments replay
    * from the centroids table, ADC lookup tables from the codebooks, ADC
    * scores from the codes table, and the exact re-rank from the live
    * embeddings — row-identical to ivfPqSearch. Shared by
    * `ann_ivfpq_topk` and (with the `ivfpqpart32` globs) `ann_ivfpq_pruned`.
    */
  private def ivfPqTopkOracle(root: String, ivfKind: String, pqKind: String,
      codes: String): String =
    s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
      |cent AS (
      |  SELECT cell, centroid
      |  FROM read_parquet('$root/$ivfKind/*/centroids/*.parquet')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |books AS (
      |  SELECT subspace, centroid_id, centroid
      |  FROM read_parquet('$root/$pqKind/*/codebooks/*.parquet')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |codes AS (
      |  SELECT * FROM read_parquet('$root/$pqKind/*/$codes')
      |  WHERE n_corpus = (SELECT n FROM nn)),
      |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |d AS (SELECT vec_id, cell,
      |        list_inner_product(centroid, centroid)
      |          - 2.0 * list_inner_product(e, centroid) AS d2
      |      FROM v, cent),
      |ranked AS (SELECT vec_id, cell,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
      |           FROM d),
      |nv AS (SELECT vec_id,
      |         CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS nvec
      |       FROM (SELECT vec_id, e,
      |               sqrt(list_inner_product(e, e)) AS nrm FROM v)),
      |cells AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE cr = 1),
      |probes AS (SELECT r.vec_id AS query_id, n.nvec AS qv, r.cell
      |           FROM ranked r JOIN nv n USING (vec_id)
      |           WHERE cr <= 6 AND r.vec_id < 10),
      |qt AS (SELECT DISTINCT p.query_id, b.subspace, b.centroid_id,
      |         list_inner_product(p.qv[(b.subspace * 8 + 1):(b.subspace * 8 + 8)],
      |                            b.centroid) AS t
      |       FROM probes p, books b),
      |scored AS (
      |  SELECT p.query_id, c.neighbor_id,
      |    round(t0.t + t1.t + t2.t + t3.t + t4.t + t5.t + t6.t + t7.t, 4) AS adc
      |  FROM codes c
      |  JOIN cells ce ON c.neighbor_id = ce.neighbor_id
      |  JOIN probes p ON ce.cell = p.cell
      |  JOIN qt t0 ON t0.query_id = p.query_id AND t0.subspace = 0 AND t0.centroid_id = c.code_0 - 1
      |  JOIN qt t1 ON t1.query_id = p.query_id AND t1.subspace = 1 AND t1.centroid_id = c.code_1 - 1
      |  JOIN qt t2 ON t2.query_id = p.query_id AND t2.subspace = 2 AND t2.centroid_id = c.code_2 - 1
      |  JOIN qt t3 ON t3.query_id = p.query_id AND t3.subspace = 3 AND t3.centroid_id = c.code_3 - 1
      |  JOIN qt t4 ON t4.query_id = p.query_id AND t4.subspace = 4 AND t4.centroid_id = c.code_4 - 1
      |  JOIN qt t5 ON t5.query_id = p.query_id AND t5.subspace = 5 AND t5.centroid_id = c.code_5 - 1
      |  JOIN qt t6 ON t6.query_id = p.query_id AND t6.subspace = 6 AND t6.centroid_id = c.code_6 - 1
      |  JOIN qt t7 ON t7.query_id = p.query_id AND t7.subspace = 7 AND t7.centroid_id = c.code_7 - 1
      |  WHERE c.neighbor_id <> p.query_id),
      |short AS (SELECT query_id, neighbor_id FROM
      |  (SELECT *, row_number() OVER (PARTITION BY query_id
      |     ORDER BY adc DESC, neighbor_id) AS rn FROM scored)
      |  WHERE rn <= 160),
      |rescored AS (SELECT s.query_id, s.neighbor_id,
      |    round(list_inner_product(q.nvec, n.nvec), 4) AS sim
      |  FROM short s
      |  JOIN nv n ON s.neighbor_id = n.vec_id
      |  JOIN nv q ON s.query_id = q.vec_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, neighbor_id) AS rn FROM rescored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replay oracle for the BM25 searches, recomputed from the `postings`
    * and `doclens` tables of the `kind` index under `root`. A batch-built
    * index stamps `n_corpus` on every row. A streamed one does not know its
    * final corpus size, so the replay keeps the index dirs whose name holds
    * `/n<count>_x` (contains(), not LIKE — `_` is a LIKE wildcard).
    */
  private def bm25TopkOracle(root: String, kind: String, postings: String,
      doclens: String = "doclens/*.parquet", streamed: Boolean = false): String = {
    def from(glob: String): String =
      if (streamed) s"read_parquet('$root/$kind/*/$glob', filename=true)\n" +
        "  WHERE contains(filename, '/n' || (SELECT count(*) FROM documents) || '_x')"
      else s"read_parquet('$root/$kind/*/$glob')\n  WHERE n_corpus = (SELECT count(*) FROM documents)"
    s"""WITH posts AS (
      |  SELECT token, doc_id, tf
      |  FROM ${from(postings)}),
      |lens AS (
      |  SELECT doc_id, dl
      |  FROM ${from(doclens)}),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
      |dfs AS (SELECT token, count(*) AS df FROM posts GROUP BY 1),
      |q AS (SELECT doc_id AS query_id,
      |        list_distinct(list_slice(string_split(lower(trim(text)), ' '), 1, 8)) AS qt
      |      FROM documents WHERE doc_id % 100 = 7),
      |qterms AS (SELECT query_id, unnest(qt) AS token FROM q),
      |scored AS (
      |  SELECT qt.query_id, p.doc_id,
      |    sum(CAST(round(
      |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      |      * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * l.dl / s.avgdl))),
      |      6) AS DECIMAL(18,6))) AS sc
      |  FROM posts p
      |  JOIN qterms qt USING (token)
      |  JOIN dfs d USING (token)
      |  JOIN lens l ON p.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2)
      |SELECT query_id, rn AS rank, doc_id, CAST(sc AS DOUBLE) AS score
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY sc DESC, doc_id) AS rn FROM scored)
      |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Brute-force top-5 cosine over the `vec_id < 10` query batch — shared
    * by the exact baseline and every query constructed to be exactly
    * equivalent to it (e.g. IVF probing all cells).
    */
  private val bruteTopkOracle: String =
    """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim
      |  FROM q, embeddings c WHERE c.vec_id <> q.vec_id)
      |SELECT query_id, rn AS rank, neighbor_id, sim
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      |      FROM scored)
      |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
}
