package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder brief: ANN over `embeddings.parquet`).
  *
  * [[bruteForceTopK]] is the correctness baseline: a SMALL broadcast query
  * set scored against the corpus (q × N, map-side only; never N × N). The
  * scale paths are one [[VectorIndex]] — fit in session or read from disk —
  * whose quantizer and layout pick what a search scans:
  *
  * | quantizer | flat layout (meta; payload)           | cell-partitioned layout (`cell=`)        |
  * |-----------|---------------------------------------|------------------------------------------|
  * | LSH       | `planes`; the corpus                  | —                                        |
  * | IVF       | `centroids`; the corpus               | `centroids`; `vectors/cell=`             |
  * | PQ        | `codebooks`; `codes`                  | —                                        |
  * | IVF-PQ    | `centroids` + `codebooks`; the corpus | `centroids` + `codebooks`; `codes/cell=` |
  *
  * A flat payload is scanned whole (where it is the corpus, the corpus is
  * assigned and encoded by the same kernel a writer uses, so an IVF half
  * and a PQ half written apart compose); a cell-partitioned one is listed
  * only for the query batch's probed cells (partition-local indexes with
  * global pruning, REPOSE). PQ codes are the compressed index the scan
  * reads, m small ints a vector, with an exact re-rank of a shortlist from
  * the corpus. Streamed ingest ([[graft.streaming.VectorIngest]],
  * [[graft.streaming.PqIngest]]) appends to the cell-partitioned layout
  * under `cell=<c>/batch_id=<b>/`. SemDeDup ([[semanticPairs]]) and
  * [[clusterBalancedSample]] use an index's coarse cells.
  */
object Similarity {

  /** Cosine similarity between two double-array columns via the native
    * [[graft.functions.DotProduct]] expression — a sequential primitive
    * fold, so the summation order (and therefore the IEEE result) is
    * deterministic, oracle-reproducible, and codegen-fast.
    */
  def cosine(a: Column, b: Column) = {
    import graft.functions.VectorOps.dotProduct
    dotProduct(a, b) / (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))
  }

  private[operators] def asDouble(c: Column) =
    transform(c, x => x.cast("double"))

  /** Brute-force cosine top-k: broadcast the query vectors, score the corpus
    * once, keep a bounded k-heap per query ([[graft.functions.SmallestK]]).
    * Similarity is rounded to 4 dp before ranking with a vec_id tiebreak,
    * making the top-k set deterministic across engines — the struct
    * (−sim, neighbor_id) reproduces exactly the window form's
    * (sim desc, id asc) total order, and every recall-gate oracle
    * re-verifies that after this rewrite.
    *
    * Why the heap and not `row_number().over(partitionBy(query_id))`: the
    * window form shuffles and SORTS all q×N scored rows to keep k per
    * query; the aggregate partial-truncates to k per map task before the
    * exchange — the scored rows never leave their partition. The `0.0 −`
    * normalizes a rounded −0.0 so the negated sort key can't split the
    * zero tie across engines.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread an under-parallel corpus scan: the q×N scoring and the
    // partial top-k heap otherwise run in one task (gated — see Dedup.spread)
    val c = Dedup.spread(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("nvec"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
    val scored = c
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4))
    rankTopK(scored, k)
  }

  /** Shared ranking tail of every top-k path: k
    * smallest (−sim, neighbor_id) structs per query via the bounded
    * [[graft.functions.SmallestK]] heap — identical total order to
    * `row_number() over (order by sim desc, neighbor_id)`, without
    * shuffling or sorting anything beyond k rows per (task, query).
    */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.smallestK(
        struct((lit(0.0) - col("sim")).as("neg_sim"), col("neighbor_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        (lit(0.0) - col("col.neg_sim")).as("sim"))

  /** Embedding-cosine near-dup pairs (builder brief: embedding-cosine
    * near-dup as a dedup variant): all pairs above `threshold`, norms
    * precomputed per row so each pair costs one dot product. Exact and
    * oracle-reproducible (rounded before the threshold filter).
    *
    * Scale: this is the verification-grade exact path — O(n²) dot products.
    * The 100 TB route prefilters candidates by IVF cells and only scores
    * within-cell pairs ([[semanticPairs]]).
    */
  def cosinePairs(
      vecs: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    // Norms folded into the vectors once per ROW (normalize up front), so
    // each pair costs exactly one native dot product (see DotProduct docs
    // for why not zip_with/aggregate).
    def side(s: String) = {
      val raw = vecs.select(col(idCol).as(s"doc_$s"), asDouble(col(vecCol)).as(s"v_$s"))
      val nrm = sqrt(dotProduct(col(s"v_$s"), col(s"v_$s")))
      raw.select(col(s"doc_$s"), transform(col(s"v_$s"), x => x / nrm).as(s"v_$s"))
    }
    // repartition the stream side: the corpus often arrives as one small
    // file split, and a nested-loop join over one partition would run the
    // whole O(n²) scoring in a single task.
    // The threshold rides INSIDE the join condition: the nested-loop join
    // evaluates it on an uncopied JoinedRow, so the O(n²) non-matching
    // pairs are rejected before any output row (two 64-double arrays
    // each) is materialized — only survivors get copied, and only they
    // pay the second dot product that puts `sim` in the output (measured
    // ~2× on dedup_embedding_pairs at sf0.1).
    val sim = round(dotProduct(col("v_a"), col("v_b")), 4)
    side("a").repartition(col("doc_a"))
      .join(side("b"), col("doc_a") < col("doc_b") && sim >= threshold)
      .select(col("doc_a"), col("doc_b"), sim.as("sim"))
  }

  /** Nearest-`probes` cell assignment against a DRIVER-SIDE centroid set —
    * the one cell-assignment kernel of every [[VectorIndex]] path, SemDeDup and
    * [[clusterBalancedSample]]. Nearest by squared L2: |x|² is constant
    * per row, so ranking by |c|² − 2x·c is equivalent and skips the
    * per-row norm.
    *
    * Pure MAP-SIDE since r18: the centroids ride as an array-of-structs
    * literal and the nearest `probes` cells come from `array_sort` +
    * `slice` over that nCells-element array — the previous crossJoin +
    * per-id window shuffled corpus×nCells rows and sorted them just to
    * take rank ≤ probes, an exchange this removes at any scale. Struct
    * ordering compares (d2, cell) exactly like the window's
    * orderBy(d2, cell); |c|² is folded to a Scala-computed literal (same
    * left-to-right summation order as the DotProduct loop, so the double
    * is bit-identical to the expression it replaces).
    */
  private[operators] def assignToCells(df: DataFrame, centers: Array[Array[Double]],
      srcId: String, srcVec: String, id: String, v: String,
      probes: Int): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    def ranked(vc: Column) = array(centers.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) - lit(2.0) * dotProduct(vc, lit(c))).as("d2"),
        lit(i).as("cell"))
    }: _*)
    df.select(col(srcId).as(id), asDouble(col(srcVec)).as(v))
      .select(col(id), col(v),
        explode(slice(array_sort(ranked(col(v))), 1, probes)).as("__sc"))
      .select(col(id), col(v), col("__sc.cell").as("cell"))
  }

  /** SEMANTIC decontamination pairs — the embedding-space sibling of
    * [[graft.operators.Dedup.contaminationFlags]]'s n-gram check: corpus
    * documents whose embedding is within `threshold` cosine of ANY eval
    * document leak the benchmark semantically even when no n-gram
    * matches. Scale shape: the eval set is SMALL relative to the corpus
    * by definition, so the right 100 TB plan is a broadcast of the
    * normalized eval vectors and a map-side corpus pass — O(|corpus| ×
    * |eval|) dot products, no shuffle, embarrassingly parallel — not a
    * bucketed approximation (which would trade recall for a speedup the
    * broadcast shape doesn't need). The threshold rides inside the join
    * condition (the [[cosinePairs]] lesson), so non-matching pairs are
    * rejected before materialization. Exact and oracle-reproducible.
    */
  def crossCosinePairs(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    // guard the zero norm (a zero embedding would yield NaN components,
    // and NaN >= threshold is TRUE under Spark's NaN ordering) — but
    // through a MATERIALIZED norm column, not normalize()'s inline when:
    // codegen subexpression elimination doesn't dedup under conditionals,
    // so the inline guard re-evaluates the dot product per reference
    // (measured 3.6× on this query); CollapseProject keeps a non-cheap
    // alias referenced twice materialized, so this form pays the norm
    // once. Zero vectors keep their raw components (sim 0, never crossing
    // a positive threshold), matching normalize()'s contract.
    def unit(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .select(col(id), col(v),
          sqrt(dotProduct(col(v), col(v))).as("__nrm"))
        .select(col(id),
          when(col("__nrm") > 0, transform(col(v), x => x / col("__nrm")))
            .otherwise(col(v)).as(v))
    val sim = round(dotProduct(col("v_c"), col("v_e")), 4)
    unit(corpus, "doc_id", "v_c").repartition(col("doc_id"))
      .join(broadcast(unit(evalSet, "eval_id", "v_e")), sim >= threshold)
      .select(col("doc_id"), col("eval_id"), sim.as("sim"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): a seeded KMeans coarse clustering partitions the
    * corpus in embedding space, and duplicate pairs are only searched
    * WITHIN a cluster — the published recipe for embedding-level dedup at
    * web scale, where the exact all-pairs pass ([[cosinePairs]]) is
    * O(n²)-impossible. Reported similarities are exact (same rounded
    * cosine as the brute-force path), so the output is a SUBSET of
    * [[cosinePairs]] at the same threshold: precision is 1 by
    * construction and the only approximation is recall — pairs split
    * across cluster boundaries are missed. The oracled
    * `dedup_semantic_recall` gate quantifies exactly that loss.
    *
    * Scale shape: the cells are `index`'s coarse centroids (fit in session
    * or read from disk), one map-side assign pass, one shuffle on the
    * cell id, intra-cell pair scoring — O(Σ cell²) dot products instead
    * of O(n²); raise `nCells` to cut the per-cell quadratic term.
    * `assignProbes` > 1 assigns every vector to its n nearest cells
    * (overlapping clusters): pairs that straddle a single cell boundary
    * still meet in the runner-up cell, buying recall for ~probes² × the
    * pair-scoring cost (pairs sharing several cells are deduplicated in
    * one groupBy — their exact sims are identical).
    */
  def semanticPairs(index: VectorIndex, corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      assignProbes: Int = 1): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    // Normalize once per row (each pair then costs ONE dot product) and
    // assign the nearest cells. Persisted + eagerly counted before the
    // self-join: the projection is expensive (normalize + nCells dot
    // products) and both join sides consume it — without the cache
    // boundary Catalyst would duplicate it into each side.
    val base = {
      val raw = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      val nrm = sqrt(dotProduct(col("v"), col("v")))
      val unit = raw.select(col("id"), transform(col("v"), x => x / nrm).as("v"))
      val assigned = assignToCells(unit, index.cells, "id", "v", "id", "v", assignProbes)
        .select(col("cell"), col("id"), col("v"))
        .persist()
      assigned.count()
      assigned
    }
    def side(s: String) =
      base.select(col("cell"), col("id").as(s"doc_$s"), col("v").as(s"v_$s"))
    side("a").repartition(col("cell"))
      .join(side("b"), Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("sim", round(dotProduct(col("v_a"), col("v_b")), 4))
      .filter(col("sim") >= threshold)
      // a pair sharing several probe cells scores identically in each —
      // one groupBy dedups without re-joining the vectors
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("sim")).as("sim"))
  }

  /** Symmetric per-vector int8 quantization of an embedding column — the
    * standard 4× storage/bandwidth cut for vector corpora: scale = max|x|
    * of the vector, q = round(x / scale × 127). Emits the quantized
    * vector, the (rounded) scale, and the max absolute reconstruction
    * error — bounded by scale/254, and the emitted column PROVES the
    * bound per row (same measured-error stance as the recall gates).
    * Map-only, zero shuffle; deterministic: IEEE division and
    * round-half-up on identical doubles in any engine.
    *
    * `scale` is materialized as its own projection BEFORE the lambdas that
    * use it: a lambda body re-deriving `array_max(transform(...))` inline
    * is re-evaluated PER ELEMENT (HOF lambda subtrees don't get
    * subexpression elimination), turning the row into O(dim²) interpreted
    * work — measured 2.3 s for 2000×64 vectors, 4× faster materialized.
    * CollapseProject leaves the split alone (it refuses to duplicate
    * non-cheap expressions into multiple references), so `scale` reaches
    * the lambdas as a plain row-field read.
    */
  def quantizeInt8(vecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val scale = col("__scale")
    val q = (x: org.apache.spark.sql.Column) => round(x / scale * 127).cast("int")
    vecs
      .select(col(idCol).as("vec_id"), v.as("__v"),
        array_max(transform(v, x => abs(x))).as("__scale"))
      .select(
        col("vec_id"),
        when(scale > 0, transform(col("__v"), x => q(x)))
          .otherwise(transform(col("__v"), x => lit(0))).as("q8"),
        round(scale, 6).as("scale"),
        when(scale > 0,
          round(array_max(transform(col("__v"), x => abs(x - q(x) * scale / 127.0d))), 6))
          .otherwise(lit(0.0)).as("max_abs_err"))
  }

  /** Pair-level recall of an approximate near-dup pair set against the
    * exact one: |approx ∩ exact| / |exact| over (doc_a, doc_b) keys. The
    * acceptance gate for [[semanticPairs]] — same stance as [[recallAtK]]:
    * an approximation is only shippable with its error measured.
    */
  def pairRecall(approx: DataFrame, exact: DataFrame, bar: Double): DataFrame = {
    val e = exact.select(col("doc_a"), col("doc_b"))
    val hits = e.join(approx.select(col("doc_a"), col("doc_b")),
      Seq("doc_a", "doc_b"), "left_semi")
    e.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(hits.agg(count(lit(1)).as("n_found")))
      .select(col("n_exact_pairs"),
        (col("n_found") >= col("n_exact_pairs") * bar).as("recall_ok"))
  }

  /** Per-query recall of an approximate top-k against the exact top-k:
    * |approx ∩ exact| / |exact| over the neighbor-id sets. This is the
    * quantified acceptance gate for the two approximate ANN paths — the
    * analog of the reference's `partial_ratio >= 80` fuzzy-match gate
    * (/root/reference/synth/resources.py:278-280): an approximation is only
    * shippable with its error measured.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("query_id"),
        round(col("hits").cast("double") / col("n"), 4).as("recall"))
  }

  private[operators] def normalize(v: Column) = {
    import graft.functions.VectorOps.dotProduct
    val nrm = sqrt(dotProduct(v, v))
    when(nrm > 0, transform(v, x => x / nrm)).otherwise(v)
  }

  /** Cluster-balanced subsampling — the semantic-diversity curation pass
    * (the cluster-proportional selection step of SemDeDup-style pipelines:
    * cap each region of embedding space so a few dense topic clusters
    * cannot dominate the training mix). Assigns every vector to its
    * nearest coarse centroid of `index` (raw-space argmin, exactly the
    * assignment an IVF search uses) and keeps
    * at most `cap` members per cell, chosen in the portable md5
    * hash-fraction order (deterministic, unbiased by ingestion order —
    * the [[Curation.hashFraction]] convention) with the id as tiebreak.
    *
    * Scale shape: the centroids ride as literals (nCells of them); the
    * per-vector argmin is map-side ([[assignToCells]]); the only shuffle is the per-cell
    * window, whose partitions are corpus/nCells — the cap then bounds
    * what anything downstream reads. Pure function of (centroids, data):
    * the replay oracle checks assignment, ranks and the kept set
    * row-for-row.
    */
  def clusterBalancedSample(index: VectorIndex, corpus: DataFrame, cap: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cw = Window.partitionBy(col("cell"))
      .orderBy(Curation.hashFraction(col("vec_id")), col("vec_id"))
    assignToCells(corpus, index.cells, idCol, vecCol, "vec_id", "v", probes = 1)
      .select(col("vec_id"), col("cell"))
      .withColumn("cell_rank", row_number().over(cw).cast("bigint"))
      .withColumn("kept", col("cell_rank") <= cap)
  }
}
