package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (builder brief: ANN over `embeddings.parquet`).
  *
  * Scale stance: [[bruteForceTopK]] is the correctness baseline — an
  * explicit cartesian between a SMALL broadcast query set and the corpus
  * (q × N, map-side only; never N × N). [[lshTopK]] is the scale path:
  * seeded random-hyperplane signatures bucket the corpus so each query only
  * scores its own bucket — the classic SRP-LSH / IVF-style route that keeps
  * the probe cost at N/buckets per query on a 100 TB corpus.
  */
object Similarity {

  /** Cosine similarity between two double-array columns via the native
    * [[graft.functions.DotProduct]] expression — a sequential primitive
    * fold, so the summation order (and therefore the IEEE result) is
    * deterministic, oracle-reproducible, and codegen-fast.
    */
  def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    import graft.functions.VectorOps.dotProduct
    dotProduct(a, b) / (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))
  }

  private def asDouble(c: org.apache.spark.sql.Column) =
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

  /** Shared ranking tail of the three top-k paths (brute/LSH/IVF): k
    * smallest (−sim, neighbor_id) structs per query via the bounded
    * [[graft.functions.SmallestK]] heap — identical total order to
    * `row_number() over (order by sim desc, neighbor_id)`, without
    * shuffling or sorting anything beyond k rows per (task, query).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
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
    * The 100 TB route prefilters candidates with [[srpSignature]] buckets
    * (or IVF cells) and only scores within-bucket pairs.
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

  /** Signed-random-projection LSH signature: `bits` seeded Gaussian
    * hyperplanes, one sign bit each. The planes are generated DRIVER-SIDE
    * from the seed and shipped as array literals, and each projection is one
    * compiled [[graft.functions.DotProduct]] call — a primitive loop inside
    * whole-stage codegen. (The previous form expanded dim × bits arithmetic
    * terms into the plan; at bits×tables×dim that megabyte-scale expression
    * tree stalled Janino for minutes.) Seeded JDK RNG → the same planes on
    * every executor and every run.
    *
    * `vec` must already be an `array<double>` column (cast once upstream —
    * a per-bit element cast would re-run the interpreted `transform` for
    * every plane).
    */
  def srpSignature(
      vec: org.apache.spark.sql.Column, dim: Int, bits: Int, seed: Long) =
    srpSignatureFromPlanes(vec, srpPlanes(dim, bits, seed))

  /** The seeded hyperplanes themselves — bits × dim Gaussians. */
  def srpPlanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] =
    (0 until bits).map { p =>
      val rnd = new java.util.Random(seed ^ (p + 1) * 0x9E3779B97F4A7C15L)
      Array.fill(dim)(rnd.nextGaussian())
    }.toArray

  /** Signature from explicit planes (the persisted-index path): the planes
    * ARE the LSH index — given them, bucket assignment is sign bits of
    * plain dot products, a pure function any engine replays.
    */
  def srpSignatureFromPlanes(
      vec: org.apache.spark.sql.Column, planes: Array[Array[Double]]) = {
    import graft.functions.VectorOps.dotProduct
    val bitCols = planes.zipWithIndex.map { case (plane, p) =>
      when(dotProduct(vec, lit(plane)) >= 0, shiftleft(lit(1L), p))
        .otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF-style top-k (the other scale path the brief names): a seeded
    * KMeans coarse quantizer assigns every corpus vector to a cell; each
    * query probes only its `nProbe` nearest cells and scores those
    * vectors. At 100 TB the cell assignment is a write-time partition
    * column, so a probe reads nProbe/nCells of the corpus — classic IVF.
    * Recall < 1 by construction (raise nProbe to trade).
    */
  /** Fit-once cache for IVF coarse quantizers. Production IVF trains its
    * centroid index ONCE per corpus and serves every query from it — the
    * per-JVM memo keyed by an explicit caller-supplied corpus identity
    * models that shape (e.g. the topk query and its recall gate share one
    * fit). Entries are nCells × dim doubles — negligible driver memory.
    * The corpusId names a DATASET VERSION, not a path: if the data behind
    * an id is rewritten in the same JVM, pass a fresh id (the memo is
    * deliberately not invalidated by `spark.catalog.clearCache()`).
    */
  private val quantizerCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Long, Int), Array[Array[Double]]]

  /** Train the coarse quantizer on a seeded SAMPLE, never the full corpus:
    * KMeans.fit iterates over its input several times, and at 100 TB a
    * full-corpus fit is a non-starter. Cluster quality saturates long
    * before maxTrainSamples — IVF centroids only need the coarse density
    * shape. The count() is parquet-metadata-cheap; the sample is seeded so
    * the quantizer (and therefore the probe result) is reproducible.
    */
  def fitQuantizer(corpus: DataFrame, nCells: Int, seed: Long,
      maxTrainSamples: Int, vecCol: String = "embedding"): Array[Array[Double]] = {
    val nCorpus = corpus.count()
    val trainSrc =
      if (nCorpus > maxTrainSamples)
        corpus.sample(withReplacement = false, maxTrainSamples.toDouble / nCorpus, seed)
      else corpus
    val train = trainSrc.select(array_to_vector(col(vecCol)).as("features"))
    new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("features")
      .fit(train).clusterCenters.map(_.toArray)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      corpusId: Option[String] = None): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val centers = corpusId match {
      case Some(id) => quantizerCache.getOrElseUpdate(
        (id, vecCol, nCells, seed, maxTrainSamples),
        fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol))
      case None => fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    }
    ivfSearch(centers, corpus, queries, k, nProbe, idCol, vecCol)
  }

  /** The search half of IVF, shared by the in-session [[ivfTopK]] and the
    * on-disk [[ivfTopKFromCentroids]] paths.
    */
  private def ivfSearch(centers: Array[Array[Double]],
      corpus: DataFrame, queries: DataFrame, k: Int, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    // spread an under-parallel corpus scan: with the assignment now
    // map-side (no exchange), a single-split corpus would otherwise run
    // the whole assign+score+partial-topk pipeline in one task; gated, so
    // a many-split production corpus skips the shuffle
    val cells = assignToCells(Dedup.spread(corpus, idCol), centers, idCol,
      vecCol, "neighbor_id", "nvec", probes = 1)
    val probes = assignToCells(queries, centers, idCol, vecCol,
      "query_id", "qvec", probes = nProbe)
    val scored = cells.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4))
    rankTopK(scored, k)
  }

  /** Nearest-`probes` cell assignment against a DRIVER-SIDE centroid set —
    * the shared kernel of [[ivfSearch]], [[writeIvfPartitioned]] and
    * [[ivfTopKFromPartitioned]]. Nearest by squared L2: |x|² is constant
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
  private[graft] def assignToCells(df: DataFrame, centers: Array[Array[Double]],
      srcId: String, srcVec: String, id: String, v: String,
      probes: Int): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    def ranked(vc: org.apache.spark.sql.Column) = array(centers.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) - lit(2.0) * dotProduct(vc, lit(c))).as("d2"),
        lit(i).as("cell"))
    }: _*)
    df.select(col(srcId).as(id), asDouble(col(srcVec)).as(v))
      .select(col(id), col(v),
        explode(slice(array_sort(ranked(col(v))), 1, probes)).as("__sc"))
      .select(col(id), col(v), col("__sc.cell").as("cell"))
  }

  /** The 100 TB IVF layout made concrete (the partition-column shape
    * [[ivfPqTopK]]'s scaladoc names): beside the centroids table, the
    * corpus vectors are written hive-partitioned by their assigned cell,
    * so a search reads ONLY the probed cells' directories — partition
    * pruning at the file-listing level, where [[ivfTopKFromCentroids]]
    * must still scan the whole corpus to recompute assignments. The
    * assignment is the same seeded probes=1 kernel the searches use, so
    * the stored layout and any recomputation agree row-for-row.
    */
  def writeIvfPartitioned(corpus: DataFrame, path: String, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    val n = corpus.count()
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq, n) }.toSeq
      .toDF("cell", "centroid", "n_corpus")
      .coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    assignToCells(corpus, centers, idCol, vecCol, idCol, vecCol, probes = 1)
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(path + "/vectors")
  }

  /** The centroids of an index written here, in cell order. Searches take
    * a centroid's array index as its cell id, so the stored cells must be
    * exactly 0..n-1: a table with a gap fails here rather than assigning
    * queries to the wrong cells.
    */
  private def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(path + "/centroids")
      .select(col("cell"), col("centroid")).collect().sortBy(_.getInt(0))
    val cells = rows.map(_.getInt(0)).toSeq
    require(cells == rows.indices,
      s"centroid cells in $path/centroids must be 0..${rows.length - 1}, got ${cells.mkString(",")}")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** IVF search over a [[writeIvfPartitioned]] index with the partition
    * prune applied: the query batch's probed cells become scan-time
    * literals (one small job over the bounded query frame), so the vectors
    * read carries a `cell` PartitionFilter and non-probed directories are
    * never listed. Stored assignments are trusted (written by the same
    * seeded kernel), so nothing is recomputed corpus-side — row-identical
    * to [[ivfTopKFromCentroids]] over the same corpus and seed.
    */
  def ivfTopKFromPartitioned(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centers = readCentroids(spark, path)
    val probes = assignToCells(queries, centers, idCol, vecCol,
      "query_id", "qvec", probes = nProbe)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cells = spark.read.parquet(path + "/vectors")
      .filter(col("cell").isin(probedCells: _*))
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("nvec"),
        col("cell"))
    val scored = cells.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4))
    rankTopK(scored, k)
  }

  /** Multi-table SRP-LSH top-k: `tables` independent signatures of `bits`
    * hyperplanes each; a corpus row is a candidate for a query if they share
    * a bucket in ANY table (the classic L-tables LSH construction — a single
    * table's recall decays as (1-θ/π)^bits, while L tables recover
    * 1-(1-p^bits)^L). Candidates are scored inside the (table, bucket)
    * equi-join and deduplicated with one groupBy — no all-pairs path, no
    * re-join. At scale the shuffle carries O(N × tables) rows; raise
    * `tables` to buy recall, raise `bits` to cut bucket sizes.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, dim: Int, bits: Int,
      tables: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame =
    lshSearch((0 until tables).map(t => srpPlanes(dim, bits, seed + t * 7919L)).toArray,
      corpus, queries, k, idCol, vecCol)

  /** Persist the LSH index — which is nothing but the hyperplanes:
    * (tbl, bit, plane) rows, tables × bits of them, driver-sized by
    * construction. Bucket assignment is sign bits of dot products against
    * these rows, so any engine — the replay oracle included — recomputes
    * signatures and candidates deterministically from this table.
    */
  def writeLshPlanes(corpus: DataFrame, path: String, dim: Int, bits: Int,
      tables: Int, seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    (0 until tables).flatMap { t =>
      srpPlanes(dim, bits, seed + t * 7919L).zipWithIndex.map {
        case (plane, p) => (t, p, plane.toSeq, n)
      }
    }.toDF("tbl", "bit", "plane", "n_corpus")
      .coalesce(1).write.mode("overwrite").parquet(path + "/planes")
  }

  /** LSH top-k against [[writeLshPlanes]] planes on disk — with the same
    * seed, row-identical to the in-session [[lshTopK]].
    */
  def lshTopKFromPlanes(path: String, corpus: DataFrame, queries: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val planes = spark.read.parquet(path + "/planes")
      .select(col("tbl"), col("bit"), col("plane")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    lshSearch(planes, corpus, queries, k, idCol, vecCol)
  }

  /** The search half of multi-table SRP-LSH, shared by the in-session
    * [[lshTopK]] and on-disk [[lshTopKFromPlanes]] paths.
    */
  private def lshSearch(planesPerTable: Array[Array[Array[Double]]],
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val sig = (df: DataFrame, id: String, v: String) =>
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .select(col(id), col(v),
          posexplode(array(planesPerTable.map(p =>
            srpSignatureFromPlanes(col(v), p)): _*))
            .as(Seq("table", "bucket")))
    val c = sig(corpus, "neighbor_id", "nvec")
    val q = sig(queries, "query_id", "qvec")
    val scored = c.join(q, Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4))
      // a pair colliding in several tables scores identically in each —
      // one groupBy dedups without re-joining the vectors
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("sim")).as("sim"))
    rankTopK(scored, k)
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
    * Scale shape: quantizer fit on a seeded sample (fit-once memo via
    * `corpusId`, like IVF), one broadcast-assign pass, one shuffle on the
    * cell id, intra-cell pair scoring — O(Σ cell²) dot products instead
    * of O(n²); raise `nCells` to cut the per-cell quadratic term.
    * `assignProbes` > 1 assigns every vector to its n nearest cells
    * (overlapping clusters): pairs that straddle a single cell boundary
    * still meet in the runner-up cell, buying recall for ~probes² × the
    * pair-scoring cost (pairs sharing several cells are deduplicated in
    * one groupBy — their exact sims are identical).
    */
  def semanticPairs(
      corpus: DataFrame, threshold: Double, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      corpusId: Option[String] = None, assignProbes: Int = 1): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val centers = corpusId match {
      case Some(id) => quantizerCache.getOrElseUpdate(
        (id, vecCol, nCells, seed, maxTrainSamples),
        fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol))
      case None => fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    }
    semanticSearchPairs(centers, corpus, threshold, idCol, vecCol, assignProbes)
  }

  /** [[semanticPairs]] against [[writeIvfCentroids]] centroids on disk —
    * given the persisted cells, the whole pass (normalized assignment,
    * multi-probe, intra-cell exact cosine) is a pure function of the
    * data, so the replay oracle checks it row-for-row.
    */
  def semanticPairsFromCentroids(path: String, corpus: DataFrame,
      threshold: Double, idCol: String = "vec_id", vecCol: String = "embedding",
      assignProbes: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    val centers = readCentroids(spark, path)
    semanticSearchPairs(centers, corpus, threshold, idCol, vecCol, assignProbes)
  }

  /** The search half of SemDeDup, shared by the in-session and on-disk
    * centroid paths.
    */
  private def semanticSearchPairs(centers: Array[Array[Double]],
      corpus: DataFrame, threshold: Double,
      idCol: String, vecCol: String, assignProbes: Int): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val session = corpus.sparkSession
    import session.implicits._
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")

    // Normalize once per row (each pair then costs ONE dot product) and
    // assign the nearest cell. Persisted + eagerly counted before the
    // self-join: the projection is expensive (normalize + nCells dot
    // products + window) and both join sides consume it — without the
    // cache boundary Catalyst would duplicate it into each side.
    val base = {
      val raw = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      val nrm = sqrt(dotProduct(col("v"), col("v")))
      val unit = raw.select(col("id"), transform(col("v"), x => x / nrm).as("v"))
      val scored = unit.crossJoin(broadcast(centroids))
        .withColumn("d2",
          dotProduct(col("centroid"), col("centroid")) -
            lit(2.0) * dotProduct(col("v"), col("centroid")))
      val w = Window.partitionBy(col("id")).orderBy(col("d2"), col("cell"))
      val assigned = scored.withColumn("cr", row_number().over(w))
        .filter(col("cr") <= assignProbes)
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

  // ------------------------------------------------------- product quantization

  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, Int, Int, Long, Int), Array[Array[Array[Double]]]]

  /** Train per-subspace PQ codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split the (normalized)
    * vector into `m` contiguous subvectors and fit an independent
    * `ksub`-centroid KMeans per subspace on a seeded sample. Returns
    * `[m][ksub][dim/m]` centroids. Like [[fitQuantizer]], the fit reads a
    * bounded sample, never the corpus — and the m fits each see only a
    * dim/m-wide projection of it.
    */
  def fitPqCodebooks(corpus: DataFrame, m: Int, ksub: Int, seed: Long,
      maxTrainSamples: Int, vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val nCorpus = corpus.count()
    val trainSrc =
      if (nCorpus > maxTrainSamples)
        corpus.sample(withReplacement = false, maxTrainSamples.toDouble / nCorpus, seed)
      else corpus
    val normed = trainSrc.select(normalize(asDouble(col(vecCol))).as("v"))
    val dim = normed.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    // one bounded materialization feeds all m sub-fits
    val cached = normed.persist()
    cached.count()
    val books = (0 until m).map { j =>
      val sub = cached.select(
        array_to_vector(slice(col("v"), j * subDim + 1, subDim)).as("features"))
      new KMeans().setK(ksub).setSeed(seed ^ (j + 1) * 0x9E3779B97F4A7C15L)
        .setFeaturesCol("features").fit(sub).clusterCenters.map(_.toArray)
    }.toArray
    cached.unpersist()
    books
  }

  private[graft] def normalize(v: org.apache.spark.sql.Column) = {
    import graft.functions.VectorOps.dotProduct
    val nrm = sqrt(dotProduct(v, v))
    when(nrm > 0, transform(v, x => x / nrm)).otherwise(v)
  }

  /** Driver-side twin of [[normalize]] for centroid arrays. */
  private[graft] def normalizeArr(c: Array[Double]): Array[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n > 0) c.map(_ / n) else c
  }

  /** The normalized coarse centroids as one array literal, indexable by
    * cell id — the residual-encoding anchor shared by every IVF-PQ path.
    */
  private[graft] def normalizedCentersLit(centers: Array[Array[Double]]) =
    typedlit(centers.map(c => normalizeArr(c).toSeq).toSeq)

  /** Residual of a normalized vector against its cell's NORMALIZED coarse
    * centroid: `r = x̂ − ĉ(cell)`. The IVF-PQ codebooks quantize THIS —
    * residuals are small, so the same m×ksub code budget spends its
    * precision on the fine structure instead of re-describing the cell's
    * position (Jégou et al. 2011 §IV: quantize x − q_coarse(x)). Cosine
    * scoring decomposes exactly: `q̂·x̂ = q̂·ĉ(cell) + q̂·r`, so the ADC
    * estimate is the per-(query, cell) offset plus the table lookups.
    */
  private[graft] def residualOf(nvec: org.apache.spark.sql.Column,
      cell: org.apache.spark.sql.Column,
      centers: Array[Array[Double]]): org.apache.spark.sql.Column =
    zip_with(nvec, element_at(normalizedCentersLit(centers), cell + 1),
      (a, b) => a - b)

  /** Train PQ codebooks on RESIDUALS: assign each (sampled) vector to its
    * raw-space cell, subtract the normalized centroid, and fit an
    * independent KMeans per subspace on the residual slices — the
    * standard accuracy move for CLUSTERED embedding corpora (Jégou et
    * al. 2011 §IV), where residuals carry far less energy than the
    * vectors. Same bounded-sample posture as [[fitPqCodebooks]].
    *
    * A/B'd against direct coding on this repo's synthetic corpus
    * (round 12, sf0.1): the embeddings are unit-norm and near-isotropic,
    * so E‖x̂−ĉ(cell)‖² ≈ 1.54 > E‖x̂‖² = 1 — the residual carries MORE
    * energy than the vector and recall@5 DROPS (0.72 → 0.56 at
    * nProbe=4, m=8, ksub=16; confirmed in an independent NumPy replica).
    * That is why `residual=false` is the default everywhere: the option
    * is correct and tested, and becomes profitable exactly when the
    * corpus has coarse cluster structure for the cells to absorb.
    */
  def fitPqCodebooksResidual(corpus: DataFrame, centers: Array[Array[Double]],
      m: Int, ksub: Int, seed: Long, maxTrainSamples: Int,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nCorpus = corpus.count()
    val trainSrc =
      if (nCorpus > maxTrainSamples)
        corpus.sample(withReplacement = false, maxTrainSamples.toDouble / nCorpus, seed)
      else corpus
    val assigned = assignToCells(
        trainSrc.withColumn("__rid", monotonically_increasing_id()),
        centers, "__rid", vecCol, "__rid", "rawv", probes = 1)
      .select(residualOf(normalize(col("rawv")), col("cell"), centers).as("v"))
    val dim = assigned.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val cached = assigned.persist()
    cached.count()
    val books = (0 until m).map { j =>
      val sub = cached.select(
        array_to_vector(slice(col("v"), j * subDim + 1, subDim)).as("features"))
      new KMeans().setK(ksub).setSeed(seed ^ (j + 1) * 0x9E3779B97F4A7C15L)
        .setFeaturesCol("features").fit(sub).clusterCenters.map(_.toArray)
    }.toArray
    cached.unpersist()
    books
  }

  /** PQ-compressed ANN top-k with asymmetric-distance scoring and exact
    * re-ranking — the MEMORY-bound scale path: at 100 TB of float
    * embeddings the corpus cannot be held (or even streamed cheaply) as
    * floats, but m bytes/vector of PQ codes compress it 16–32×, and the
    * scan side of the search touches ONLY the codes.
    *
    * Pipeline: normalize → encode corpus once (per subspace, argmin over
    * `ksub` compiled dot-product distances — all codegen'd literals, same
    * shipping trick as [[srpSignature]]) → per query build the m×ksub ADC
    * lookup table (query-side work only) → approximate score of every
    * (query, code) row is m `element_at` lookups — no float vector on the
    * scan side → bounded-heap shortlist of `refine`×k → EXACT cosine
    * re-rank of the shortlist only (k·refine true-vector fetches per
    * query, the standard refinement step). Output shape matches
    * [[bruteForceTopK]]; accuracy is gated by `ann_pq_recall`.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, refine: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      corpusId: Option[String] = None): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val books = corpusId match {
      case Some(id) => pqCache.getOrElseUpdate(
        (id, vecCol, m, ksub, seed, maxTrainSamples),
        fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol))
      case None => fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol)
    }
    val codes = pqEncode(corpus, books, idCol, vecCol)
    pqSearch(codes, codes.select(col("neighbor_id"), col("nvec")),
      queries, books, k, refine, idCol, vecCol)
  }

  /** Corpus → (neighbor_id, nvec, code_0..code_{m-1}): per subspace, argmin
    * over `ksub` compiled dot-product distances (all codegen'd literals).
    * The codes are what a production index PERSISTS (m bytes/row) — nvec
    * rides along only for callers that re-rank from the same frame.
    */
  private[graft] def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id"), normalize(asDouble(col(vecCol))).as("nvec"))
      .select(col("neighbor_id") +: col("nvec") +: pqCodeCols(books): _*)

  /** The m nearest-sub-centroid code expressions over a normalized `nvec`
    * column — the encoding kernel shared by [[pqEncode]] and
    * [[writeIvfPqPartitioned]], so stored and recomputed codes can never
    * disagree.
    */
  private[graft] def pqCodeCols(books: Array[Array[Array[Double]]],
      over: org.apache.spark.sql.Column = col("nvec")): Seq[org.apache.spark.sql.Column] = {
    import graft.functions.VectorOps.dotProduct
    val subDim = books(0)(0).length
    def subv(v: org.apache.spark.sql.Column, j: Int) = slice(v, j * subDim + 1, subDim)
    books.indices.map { j =>
      val dists = array(books(j).map(c =>
        dotProduct(lit(c), lit(c)) - lit(2.0) * dotProduct(subv(over, j), lit(c))): _*)
      array_position(dists, array_min(dists)).cast("int").as(s"code_$j")
    }
  }

  /** The ADC search half: score codes against per-query lookup tables,
    * shortlist `refine`×k by the bounded heap, exact-re-rank the shortlist
    * against `rerankVecs` (neighbor_id, nvec). Shared by the in-session
    * [[pqTopK]] and the on-disk [[pqTopKFromIndex]] paths.
    */
  private def pqSearch(codes: DataFrame, rerankVecs: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Double]]], k: Int, refine: Int,
      idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val m = books.length
    val subDim = books(0)(0).length
    def subv(v: org.apache.spark.sql.Column, j: Int) = slice(v, j * subDim + 1, subDim)

    // query → ADC tables: t_j[c] = q_j · centroid_{j,c} (ksub entries per
    // subspace, built once per query row; the broadcast ships q×m×ksub
    // doubles)
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c => dotProduct(subv(col("qvec"), j), lit(c))): _*).as(s"t_$j")
    }
    val qt = queries
      .select(col(idCol).as("query_id"), normalize(asDouble(col(vecCol))).as("qvec"))
      .select(col("query_id") +: col("qvec") +: tableCols: _*)

    // ADC score = Σ_j t_j[code_j]: m array lookups per (query, row) — the
    // only per-corpus-row work in the scan
    val adc = (0 until m)
      .map(j => element_at(col(s"t_$j"), col(s"code_$j")))
      .reduce(_ + _)
    val shortlist = rankTopK(
      Dedup.spread(codes, "neighbor_id")
        .join(broadcast(qt), col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", round(adc, 4)),
      k * refine)

    // exact re-rank of the shortlist: true vectors are fetched for
    // k·refine candidates per query only
    val rescored = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(rerankVecs, "neighbor_id")
      .join(broadcast(qt.select(col("query_id"), col("qvec"))), "query_id")
      .withColumn("sim", round(dotProduct(col("qvec"), col("nvec")), 4))
    rankTopK(rescored, k)
  }

  /** Persist a PQ index: `path/codebooks` (subspace, centroid_id, centroid)
    * and `path/codes` (neighbor_id, code_0..code_{m-1}) — the build-once /
    * query-many split of a production vector index. The codes table is the
    * 16–32×-compressed representation the search scans; true vectors stay
    * in the source corpus and are fetched only for re-ranking. At 100 TB
    * the codes table is the thing that fits: ~m bytes a vector plus the id.
    *
    * Codebooks are m×ksub rows — driver-sized BY CONSTRUCTION (the fit
    * already returns them to the driver; persisting them is one tiny file).
    */
  def writePqIndex(corpus: DataFrame, path: String,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol)
    // n_corpus stamps the tables self-describing (one metadata-cheap
    // count): a reader globbing several persisted indexes — the replay
    // oracle does — selects the one built from its corpus by size.
    val n = corpus.count()
    books.indices.flatMap(j => books(j).indices.map(c => (j, c, books(j)(c).toSeq)))
      .toDF("subspace", "centroid_id", "centroid").withColumn("n_corpus", lit(n))
      .withColumn("residual", lit(false)) // self-describing encoding space
      .coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    pqEncode(corpus, books, idCol, vecCol).drop("nvec")
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(path + "/codes")
  }

  /** The residual-PQ half of a composed IVF+PQ deployment: codebooks
    * trained on residuals against the coarse centroids persisted at
    * `ivfPath`, plus a flat codes table holding every corpus vector's
    * encoded residual — what [[ivfPqTopKFromIndexes]] consumes as its PQ
    * half. Unlike [[writePqIndex]] (whose books quantize whole vectors
    * for the cell-less flat-PQ search), these books are only meaningful
    * TOGETHER with the centroids they were trained against.
    */
  def writePqResidualIndex(corpus: DataFrame, ivfPath: String, path: String,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = readCentroids(spark, ivfPath)
    val books = fitPqCodebooksResidual(corpus, centers, m, ksub, seed,
      maxTrainSamples, vecCol)
    val n = corpus.count()
    books.indices.flatMap(j => books(j).indices.map(c => (j, c, books(j)(c).toSeq)))
      .toDF("subspace", "centroid_id", "centroid").withColumn("n_corpus", lit(n))
      .withColumn("residual", lit(true)) // self-describing encoding space
      .coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    assignToCells(corpus, centers, idCol, vecCol, "neighbor_id", "rawv",
        probes = 1)
      .select(col("neighbor_id"), normalize(col("rawv")).as("nvec"), col("cell"))
      .withColumn("rvec", residualOf(col("nvec"), col("cell"), centers))
      .select(col("neighbor_id") +: pqCodeCols(books, col("rvec")): _*)
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(path + "/codes")
  }

  /** Persist the IVF half of an index: the coarse-quantizer centroids
    * (cell, centroid) — nCells×dim doubles, driver-sized by construction.
    * Cell assignment is a pure function of (vector, centroids), so the
    * centroids ARE the index: any engine — the replay oracle included —
    * recomputes assignments and probes deterministically from this table.
    */
  def writeIvfCentroids(corpus: DataFrame, path: String, nCells: Int,
      vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    val n = corpus.count()
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq, n) }.toSeq
      .toDF("cell", "centroid", "n_corpus")
      .coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
  }

  /** IVF ANN top-k against [[writeIvfCentroids]] centroids on disk — the
    * build-once / query-many split of [[ivfTopK]]. With the same seed the
    * results are row-identical to the in-session path.
    */
  def ivfTopKFromCentroids(path: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val centers = readCentroids(spark, path)
    ivfSearch(centers, corpus, queries, k, nProbe, idCol, vecCol)
  }

  /** ANN top-k against a [[writePqIndex]] index on disk: codebooks reload
    * to driver literals (m×ksub rows — the same driver-sized object the
    * fit produced), the scan reads ONLY the codes table, and the re-rank
    * fetches true vectors from the live corpus. With the same seed, the
    * results are row-identical to the in-session [[pqTopK]] — asserted by
    * SimilaritySpec.
    */
  def pqTopKFromIndex(path: String, corpus: DataFrame, queries: DataFrame, k: Int,
      refine: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val books = spark.read.parquet(path + "/codebooks")
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    val codes = spark.read.parquet(path + "/codes")
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      normalize(asDouble(col(vecCol))).as("nvec"))
    pqSearch(codes, vecs, queries, books, k, refine, idCol, vecCol)
  }

  /** IVF-PQ: the canonical composition of the two index halves — the IVF
    * coarse quantizer prunes the SCAN (only `nProbe`/`nCells` of the
    * corpus is touched per query) and PQ compresses WHAT is scanned
    * (m bytes/vector ADC instead of float vectors). This is the layout a
    * 100 TB embedding index actually ships: cell id as a write-time
    * partition column, PQ codes as the stored payload, true vectors
    * fetched only for the refine·k re-rank shortlist.
    *
    * Expressed as composition: cell assignment reuses [[fitQuantizer]]'s
    * centroids (memoized per corpus) to SUBSET the corpus to the probed
    * cells per query, and [[pqTopK]] runs per probed subset. Here the
    * subset is computed as a (cell ⨝ probe) equi-join — the same plan
    * shape as [[ivfTopK]] — and the ADC scoring rides on the joined rows,
    * so the q×N nested loop of plain PQ becomes a keyed join touching
    * q×N·(nProbe/nCells) rows.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 8, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, refine: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      corpusId: Option[String] = None,
      residual: Boolean = false): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val centers = corpusId match {
      case Some(id) => quantizerCache.getOrElseUpdate(
        (id, vecCol, nCells, seed, maxTrainSamples),
        fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol))
      case None => fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    }
    // residual books cache under a ":res" key — a different model from
    // the direct-vector books. Default is DIRECT: on this corpus's
    // near-isotropic unit vectors the residual carries MORE energy than
    // the vector (measured ‖x̂−ĉ‖²≈1.54 vs ‖x̂‖²=1 at sf0.1), so
    // residual coding loses recall — see the A/B note at
    // fitPqCodebooksResidual. Clustered real-world embeddings are the
    // case residual=true exists for.
    val books = corpusId match {
      case Some(id) => pqCache.getOrElseUpdate(
        (id + (if (residual) ":res" else ""), vecCol, m, ksub, seed, maxTrainSamples),
        if (residual)
          fitPqCodebooksResidual(corpus, centers, m, ksub, seed,
            maxTrainSamples, vecCol)
        else fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol))
      case None =>
        if (residual)
          fitPqCodebooksResidual(corpus, centers, m, ksub, seed,
            maxTrainSamples, vecCol)
        else fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol)
    }
    ivfPqSearch(centers, books, corpus, queries, k, nProbe, refine, idCol,
      vecCol, residual)
  }

  /** IVF-PQ against persisted index halves: coarse centroids from
    * [[writeIvfCentroids]], codebooks from [[writePqIndex]] — the
    * composition a production deployment runs, entirely from tables on
    * disk plus the live corpus for encoding and re-rank.
    */
  def ivfPqTopKFromIndexes(ivfPath: String, pqPath: String,
      corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int = 4, refine: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val centers = readCentroids(spark, ivfPath)
    val bdf = spark.read.parquet(pqPath + "/codebooks")
    // the codebooks table self-describes its encoding space (legacy
    // tables without the column are direct-coded)
    val residual = bdf.columns.contains("residual") &&
      bdf.select(col("residual")).head().getBoolean(0)
    val books = bdf.select(col("subspace"), col("centroid_id"), col("centroid"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    ivfPqSearch(centers, books, corpus, queries, k, nProbe, refine, idCol,
      vecCol, residual)
  }

  /** The search half of IVF-PQ, shared by the in-session [[ivfPqTopK]] and
    * the on-disk [[ivfPqTopKFromIndexes]] paths.
    */
  private def ivfPqSearch(centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, refine: Int, idCol: String, vecCol: String,
      residual: Boolean): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val m = books.length
    val subDim = books(0)(0).length

    val session = corpus.sparkSession
    import session.implicits._
    val centroids = centers.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cell", "centroid")

    // cell assignment happens in the RAW vector space (the coarse
    // quantizer was fit there — see fitQuantizer); normalization happens
    // after, for the PQ/cosine stage only
    // map-side nearest-cell kernel (shared assignToCells), normalized
    // after assignment — the coarse quantizer was fit in raw space
    def assign(df: DataFrame, id: String, v: String, probes: Int) =
      assignToCells(df, centers, idCol, vecCol, id, v, probes)
        .select(col(id), normalize(col(v)).as(v), col("cell"))

    // stored side: (cell, codes, nvec) — what the index persists, cell
    // being the partition column; encode once. In residual mode the codes
    // quantize x̂ − ĉ(cell) (shared kernel with the index writers);
    // direct mode quantizes x̂ itself.
    def subv(v: org.apache.spark.sql.Column, j: Int) = slice(v, j * subDim + 1, subDim)
    val encodeOver =
      if (residual) residualOf(col("nvec"), col("cell"), centers)
      else col("nvec")
    // spread an under-parallel corpus scan: assignment + PQ encoding are
    // now all map-side, so a single-split corpus would serialize the
    // whole encode battery into one task (gated; a many-split production
    // corpus skips the shuffle)
    val cells = assign(Dedup.spread(corpus, idCol), "neighbor_id", "nvec", probes = 1)
      .withColumn("rvec", encodeOver)
      .select(col("neighbor_id") +: col("nvec") +: col("cell") +:
        pqCodeCols(books, col("rvec")): _*)

    // probe side: query ADC tables, one row per (query, probed cell) —
    // the tables are cell-independent under inner-product scoring; in
    // residual mode the cell enters only through the additive q̂·ĉ(cell)
    // offset below
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c => dotProduct(subv(col("qvec"), j), lit(c))): _*).as(s"t_$j")
    }
    val probes = assign(queries, "query_id", "qvec", probes = nProbe)
      .select(col("query_id") +: col("qvec") +: col("cell") +: tableCols: _*)

    // ADC estimate of q̂·x̂ — residual mode adds back the q̂·ĉ(cell)
    // term the decomposition q̂·x̂ = q̂·ĉ + q̂·(x̂ − ĉ) factors out
    val offset =
      if (residual)
        dotProduct(col("qvec"),
          element_at(normalizedCentersLit(centers), col("cell") + 1))
      else lit(0.0)
    val adc = (0 until m)
      .map(j => element_at(col(s"t_$j"), col(s"code_$j")))
      .reduce(_ + _)
    val shortlist = rankTopK(
      cells.join(probes, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", round(offset + adc, 4)),
      k * refine)

    val rescored = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(cells.select(col("neighbor_id"), col("nvec")), "neighbor_id")
      .join(broadcast(probes.select(col("query_id"), col("qvec")).distinct()), "query_id")
      .withColumn("sim", round(dotProduct(col("qvec"), col("nvec")), 4))
    rankTopK(rescored, k)
  }

  /** The complete 100 TB embedding-index layout in one persisted package —
    * what [[ivfPqTopK]]'s scaladoc describes, shipped: coarse centroids
    * and PQ codebooks as driver-sized tables, and the codes table written
    * hive-partitioned by assigned cell with NO stored vectors — the
    * per-vector payload is the id plus m one-byte codes, which is the
    * entire point of PQ at scale (true vectors stay in the corpus store
    * and are fetched only for the re-rank shortlist). Assignment uses the
    * shared raw-space kernel and encoding the shared code kernel, so the
    * stored layout, the in-session search and the replay oracle agree
    * row-for-row.
    */
  def writeIvfPqPartitioned(corpus: DataFrame, path: String,
      nCells: Int = 8, m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centers = fitQuantizer(corpus, nCells, seed, maxTrainSamples, vecCol)
    val books =
      if (residual)
        fitPqCodebooksResidual(corpus, centers, m, ksub, seed,
          maxTrainSamples, vecCol)
      else fitPqCodebooks(corpus, m, ksub, seed, maxTrainSamples, vecCol)
    val n = corpus.count()
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq, n) }.toSeq
      .toDF("cell", "centroid", "n_corpus")
      .coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    // the `residual` column makes the package self-describing: readers
    // pick the matching ADC formula without out-of-band configuration
    books.indices.flatMap(j => books(j).indices.map(c => (j, c, books(j)(c).toSeq)))
      .toDF("subspace", "centroid_id", "centroid").withColumn("n_corpus", lit(n))
      .withColumn("residual", lit(residual))
      .coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")
    // raw-space cell assignment (the quantizer was fit there), then
    // normalize for the PQ encoding — residual mode additionally
    // subtracts the cell's normalized centroid (the ivfPqSearch
    // convention: codes quantize x̂ − ĉ(cell))
    assignToCells(corpus, centers, idCol, vecCol, "neighbor_id", "rawv",
        probes = 1)
      .select(col("neighbor_id"), normalize(col("rawv")).as("nvec"), col("cell"))
      .withColumn("rvec",
        if (residual) residualOf(col("nvec"), col("cell"), centers)
        else col("nvec"))
      .select(col("neighbor_id") +: col("cell") +:
        pqCodeCols(books, col("rvec")): _*)
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").partitionBy("cell").parquet(path + "/codes")
  }

  /** IVF-PQ search over a [[writeIvfPqPartitioned]] index with the
    * partition prune applied: the query batch's probed cells become
    * scan-time literals, so the codes scan carries a `cell`
    * PartitionFilter and reads ~nProbe/nCells of the index's files —
    * composed with PQ's m-bytes-per-row payload, this is the read path a
    * production vector index runs. ADC scores the pruned codes against
    * broadcast per-query lookup tables; the exact re-rank fetches true
    * vectors from the LIVE corpus (the codes table stores none).
    * Row-identical to [[ivfPqTopKFromIndexes]] over the same corpus and
    * seed.
    */
  def ivfPqTopKFromPartitioned(spark: SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int = 4, refine: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    import spark.implicits._
    val centers = readCentroids(spark, path)
    val bdf = spark.read.parquet(path + "/codebooks")
    // self-described encoding space (legacy tables = direct)
    val residual = bdf.columns.contains("residual") &&
      bdf.select(col("residual")).head().getBoolean(0)
    val books = bdf
      .select(col("subspace"), col("centroid_id"), col("centroid")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    val m = books.length
    val subDim = books(0)(0).length

    def subv(v: org.apache.spark.sql.Column, j: Int) = slice(v, j * subDim + 1, subDim)
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c => dotProduct(subv(col("qvec"), j), lit(c))): _*).as(s"t_$j")
    }
    val probes = assignToCells(queries, centers, idCol, vecCol,
        "query_id", "qvec", probes = nProbe)
      .select(col("query_id"), normalize(col("qvec")).as("qvec"), col("cell"))
      .select(col("query_id") +: col("qvec") +: col("cell") +: tableCols: _*)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq

    val codes = spark.read.parquet(path + "/codes")
      .filter(col("cell").isin(probedCells: _*))
    // residual-coded packages add back the per-(query, cell) offset
    // q̂·ĉ(cell) the decomposition factors out; direct packages need none
    val offset =
      if (residual)
        dotProduct(col("qvec"),
          element_at(normalizedCentersLit(centers), col("cell") + 1))
      else lit(0.0)
    val adc = (0 until m)
      .map(j => element_at(col(s"t_$j"), col(s"code_$j")))
      .reduce(_ + _)
    val shortlist = rankTopK(
      codes.join(probes, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", round(offset + adc, 4)),
      k * refine)

    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      normalize(asDouble(col(vecCol))).as("nvec"))
    val rescored = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(vecs, "neighbor_id")
      .join(broadcast(probes.select(col("query_id"), col("qvec")).distinct()),
        "query_id")
      .withColumn("sim", round(dotProduct(col("qvec"), col("nvec")), 4))
    rankTopK(rescored, k)
  }

  /** Cluster-balanced subsampling — the semantic-diversity curation pass
    * (the cluster-proportional selection step of SemDeDup-style pipelines:
    * cap each region of embedding space so a few dense topic clusters
    * cannot dominate the training mix). Assigns every vector to its
    * nearest persisted IVF centroid (raw-space argmin, exactly the
    * coarse-quantizer assignment [[ivfTopKFromCentroids]] uses) and keeps
    * at most `cap` members per cell, chosen in the portable md5
    * hash-fraction order (deterministic, unbiased by ingestion order —
    * the [[Curation.hashFraction]] convention) with the id as tiebreak.
    *
    * Scale shape: centroids are a broadcast scalar (nCells rows); the
    * per-vector argmin is map-side; the only shuffle is the per-cell
    * window, whose partitions are corpus/nCells — the cap then bounds
    * what anything downstream reads. Pure function of (centroids, data):
    * the replay oracle checks assignment, ranks and the kept set
    * row-for-row.
    */
  def clusterBalancedSample(path: String, corpus: DataFrame, cap: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps.dotProduct
    val spark = corpus.sparkSession
    val centroids = spark.read.parquet(path + "/centroids")
      .select(col("cell"), col("centroid"))
    val scored = corpus
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2",
        dotProduct(col("centroid"), col("centroid")) -
          lit(2.0) * dotProduct(col("v"), col("centroid")))
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cell"))
    val assigned = scored.withColumn("cr", row_number().over(aw))
      .filter(col("cr") === 1)
      .select(col("vec_id"), col("cell"))
    val cw = Window.partitionBy(col("cell"))
      .orderBy(Curation.hashFraction(col("vec_id")), col("vec_id"))
    assigned
      .withColumn("cell_rank", row_number().over(cw).cast("bigint"))
      .withColumn("kept", col("cell_rank") <= cap)
  }
}
