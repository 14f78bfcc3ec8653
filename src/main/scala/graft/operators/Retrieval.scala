package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the document corpus: a classic inverted index
  * (token → posting list) persisted as parquet, BM25 ranking served from
  * that index, and reciprocal-rank fusion to combine lexical and vector
  * rankings — the hybrid-search shape every RAG / training-data-curation
  * stack needs beside the `Similarity` ANN operators.
  *
  * Beyond-reference component (builder brief: similarity search /
  * training-data pipeline operators). Retrieval-model shape follows
  * Robertson & Zaragoza 2009 (BM25) and Cormack, Clarke & Buettcher 2009
  * (reciprocal rank fusion).
  *
  * Determinism contract (shared with the rest of the registry): tf / df /
  * doc-length are exact integers; every per-term score is rounded to 6 dp
  * and summed as DECIMAL(18,6) (order-free exact), so ranking ties are
  * decided on exact values and any engine reproduces the ranking
  * bit-for-bit.
  *
  * Scale shape: the index build is ONE explode + ONE count aggregation
  * (map-side combine) — O(total tokens) narrow rows. Search never scans
  * documents: the (broadcast) query-term set prunes the postings scan to
  * matching tokens only — at 100 TB the postings table is written
  * bucketed by token, making that a partition-pruned read. Ranking uses
  * the bounded [[graft.functions.TopK]] heap: ≤ k rows per (task, query)
  * are shuffled, never the full scored set.
  */
object Retrieval {

  /** BM25 parameters. 1.5 and 0.75 sit in the standard tuning range AND
    * are exact binary fractions, so `k1 + 1 = 2.5` and `1 − b = 0.25` are
    * bit-identical literals in every engine (1.2 — the other customary
    * k1 — is not exactly representable, and `k1 + 1` would round
    * differently than a literal `2.2`).
    */
  val K1 = 1.5
  val B = 0.75

  private def toks(c: org.apache.spark.sql.Column) = split(lower(trim(c)), " ")

  /** The query batch's distinct token buckets under the partitioned
    * layouts' `pmod(xxhash64(token), nBuckets)` scheme — one small job
    * over the bounded queries frame, shared by [[bm25TopKPruned]] and the
    * streaming [[graft.streaming.IndexIngest.bm25TopKPruned]] so the
    * bucket tokenization can never diverge from the index's.
    */
  private[graft] def queryTokenBuckets(queries: DataFrame, nBuckets: Int): Seq[Long] =
    queries.select(explode(array_distinct(toks(col("qtext")))).as("token"))
      .select(pmod(xxhash64(col("token")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** Inverted index: postings (token, doc_id, tf) + doc lengths
    * (doc_id, dl). Everything else BM25 needs (df, N, avgdl) is derived
    * from these two, so the persisted index stays minimal.
    */
  def invertedIndex(docs: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame) = {
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode(toks(col(textCol))).as("token"))
    val postings = exploded.groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val doclens = docs.select(col(idCol).as("doc_id"),
      size(toks(col(textCol))).cast("bigint").as("dl"))
    (postings, doclens)
  }

  /** Persist the index under `path` (build-once / query-many, the same
    * split as a persisted [[VectorIndex]]). Tables are stamped with
    * `n_corpus` so differently-sized corpora never collide and a replay
    * oracle can glob + filter. At 100 TB the postings write would add
    * `.bucketBy(token)` so searches prune to the buckets of their query
    * terms; at test scale plain parquet keeps the fixture readable.
    *
    * Besides postings/doclens, the BM25 summaries are persisted at BUILD
    * time — `dftab` (token → document frequency) and the one-row `stats`
    * (n_docs, avgdl) — so a search never re-aggregates the full index:
    * at 100 TB a per-query df scan over the postings table is the
    * dominant cost and cannot be pruned by token-bucketing (the aggregate
    * needs every token's rows), whereas a dftab LOOKUP for the handful of
    * query terms prunes like any keyed read.
    */
  def writeIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val (postings, doclens) = invertedIndex(docs, textCol, idCol)
    val n = docs.count()
    doclens.withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/doclens")
    postings.withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/postings")
    // derive the summaries from the WRITTEN tables, not the lineage — one
    // cheap columnar re-read instead of re-running the tokenize/explode
    spark.read.parquet(s"$path/postings")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/dftab")
    spark.read.parquet(s"$path/doclens")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The 100 TB index layout made concrete: postings written
    * hive-partitioned by `tok_bucket = pmod(xxhash64(token), nBuckets)`, so
    * a search whose query-term buckets are known reads ONLY those
    * directories — static partition pruning at the file-listing level, the
    * property [[writeIndex]]'s scaladoc promises and the flat layout can't
    * deliver. Everything else (doclens/dftab/stats, n_corpus stamping) is
    * identical to [[writeIndex]]; the oracle replays from the partitioned
    * files the same way.
    *
    * `nBuckets` sizes the prune granularity: at test scale 16 keeps files
    * readable; a 100 TB index would use thousands (each bucket still holds
    * many tokens — the point is pruning the scan to
    * |query tokens| / nBuckets of the index, not one-file-per-token).
    */
  def writeIndexPartitioned(docs: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    val (postings, doclens) = invertedIndex(docs, textCol, idCol)
    val n = docs.count()
    postings.withColumn("n_corpus", lit(n))
      .withColumn("tok_bucket", pmod(xxhash64(col("token")), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("tok_bucket")
      .parquet(s"$path/postings")
    doclens.withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/doclens")
    spark.read.parquet(s"$path/postings")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("n_corpus", lit(n))
      .write.mode("overwrite").parquet(s"$path/dftab")
    spark.read.parquet(s"$path/doclens")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .withColumn("n_corpus", lit(n))
      // the layout describes itself: search reads n_buckets from here, so
      // a caller can never prune with a bucket count the index wasn't
      // written with (silent wrong-results footgun)
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 search over a [[writeIndexPartitioned]] index with the partition
    * prune applied: the query batch's distinct token BUCKETS are computed
    * first (one job over the queries frame — the small side by definition:
    * a search batch is human- or API-issued terms, bounded like the
    * IVF/PQ centroid fits) and land in the postings filter as literals,
    * which is what static partition pruning needs — the scan's
    * PartitionFilters prune non-matching `tok_bucket=` directories before
    * any file is opened. The bucket count comes from the index's own
    * stats table, never from the caller. Scoring is the shared
    * [[bm25Score]] path, so the result is row-identical to
    * [[bm25TopKFromIndex]] over the same corpus (the bucket prune is a
    * superset of the per-token join filter).
    */
  def bm25TopKPruned(spark: SparkSession, path: String, queries: DataFrame,
      k: Int): DataFrame = {
    val nBuckets = spark.read.parquet(s"$path/stats")
      .select(col("n_buckets")).first().getInt(0)
    val buckets = queryTokenBuckets(queries, nBuckets)
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("tok_bucket").isin(buckets: _*))
      .select(col("token"), col("doc_id"), col("tf"))
    val doclens = spark.read.parquet(s"$path/doclens")
      .select(col("doc_id"), col("dl"))
    val dfTab = spark.read.parquet(s"$path/dftab")
      .select(col("token"), col("df"))
    val stats = spark.read.parquet(s"$path/stats")
      .select(col("n_docs"), col("avgdl"))
    bm25Score(postings, doclens, dfTab, stats, queries, k)
  }

  /** BM25 top-k from a persisted index: score every document that shares
    * at least one term with the query and keep the k best per query.
    *
    * score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + ½)/(df + ½))  — the Robertson/Sparck
    * Jones idf in its always-positive (Lucene) form, so score terms never
    * cancel and the −0.0 sort-key hazard cannot arise.
    *
    * The scan side is postings ⋈ broadcast(query terms) — documents are
    * never touched, and df/N/avgdl ride along as broadcast one-rowers.
    */
  def bm25TopKFromIndex(spark: SparkSession, path: String,
      queries: DataFrame, k: Int): DataFrame = {
    val postings = spark.read.parquet(s"$path/postings")
      .select(col("token"), col("doc_id"), col("tf"))
    val doclens = spark.read.parquet(s"$path/doclens")
      .select(col("doc_id"), col("dl"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // pre-r9 indexes lack the persisted summaries — fall back to deriving
    // them (query-term-pruned) so old index dirs stay readable
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/dftab/_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats/_SUCCESS"))) {
      val dfTab = spark.read.parquet(s"$path/dftab").select(col("token"), col("df"))
      val stats = spark.read.parquet(s"$path/stats").select(col("n_docs"), col("avgdl"))
      bm25Score(postings, doclens, dfTab, stats, queries, k)
    } else bm25TopK(postings, doclens, queries, k)
  }

  /** Index-table form of the scorer — `queries` is (query_id, qtext).
    * df is aggregated only over postings rows whose token appears in a
    * query (semi-join with the broadcast term set BEFORE the aggregation):
    * identical df values for every scoring term, but the aggregate's input
    * is the query-matched slice instead of the whole index — with
    * token-bucketed storage that read prunes; a full-postings `GROUP BY
    * token` cannot. Used directly by the incremental batch-union path,
    * where the persisted dftab does not yet cover the new batch.
    */
  def bm25TopK(postings: DataFrame, doclens: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val qtok = queries
      .select(explode(array_distinct(toks(col("qtext")))).as("token")).distinct()
    val dfTab = postings.join(broadcast(qtok), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = doclens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    bm25Score(postings, doclens, dfTab, stats, queries, k)
  }

  private def bm25Score(postings: DataFrame, doclens: DataFrame,
      dfTab: DataFrame, stats: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(toks(col("qtext")))).as("token"))

    // spread an under-parallel postings scan before the probe: a flat index
    // arrives as ONE split, and the probe's fan-out (every posting row
    // matches every query sharing its token) plus the per-row scoring and
    // partial aggregation then run in a single task (profiled at sf0.1:
    // 116 k postings → 1.34 M scored rows → 1.4 s serial, the whole
    // query's hot stage). Gated on the actual partition count, so a real
    // 100 TB index — already thousands of splits — skips the shuffle
    // (same contract as Dedup.spread).
    val scored = Dedup.spread(postings, "doc_id")
      // the INNER broadcast pins the build side to the query-term set:
      // without it the planner broadcasts dfTab (its file-size estimate is
      // the smaller number), which at corpus scale is the whole vocabulary
      // — query terms are bounded by |queries|×8, the vocabulary is not.
      // The term⋈df join streams dfTab instead, and only the tiny joined
      // result is re-broadcast into the postings probe.
      .join(broadcast(broadcast(qterms).join(dfTab, Seq("token"))), Seq("token"))
      .join(doclens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        round(
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(K1 + 1.0)
               / (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))),
          6).cast("decimal(18,6)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("dscore"))
      .select(col("query_id"), col("doc_id"),
        col("dscore").cast("double").as("score"))

    // bounded-heap ranking: identical total order to
    // row_number() over (order by score desc, doc_id), but only ≤ k rows
    // per (task, query) ever reach the exchange
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopK.smallestK(
        struct((lit(0.0) - col("score")).as("neg"), col("doc_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.doc_id").as("doc_id"),
        (lit(0.0) - col("col.neg")).as("score"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) —
    * diversity-aware top-k: greedily pick the candidate maximizing
    * λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s), so near-duplicates of an
    * already-picked result are demoted. λ defaults to 0.75 (in the usual
    * relevance-leaning range AND binary-exact, like the BM25 constants —
    * 0.75·x and 0.25·y are exact scalings, so any engine walking the same
    * expression reproduces every comparison bit-for-bit).
    *
    * `candidates` is (query_id, doc_id, rel, vec) — a per-query shortlist
    * an upstream ranker produced (tens of rows per query). The greedy
    * loop is inherently sequential IN k but independent ACROSS queries,
    * so it runs as `flatMapGroups` over the query key: per-partition
    * imperative logic on one query's shortlist — the documented
    * legitimate use — never a driver loop, never all-pairs beyond the
    * shortlist × picked (≤ C·k dot products per query).
    *
    * Determinism: rel is the upstream's 4-dp-rounded score; pairwise
    * sims round to 4 dp through the same cosine formula shape the ANN
    * oracles replay (`dot/(√dot·√dot)`, ascending folds); ties break on
    * doc_id; a zero-norm vector similarity is defined as 0 (maximally
    * dissimilar) instead of NaN. The emitted mmr score is rounded to
    * 6 dp. Each round updates every candidate's RUNNING max-sim against
    * only the newest pick, so the whole selection really is ≤ C·k dot
    * products (recomputing the max over all picks each round would be
    * C·k²).
    */
  def mmrRerank(candidates: DataFrame, k: Int,
      lambda: Double = 0.75): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) {
        dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1
      }
      if (daa == 0.0 || dbb == 0.0) 0.0
      else dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    candidates
      .select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("rel").cast("double"), col("vec").cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.map { case (_, d, r, v) => (d, r, v.toArray) }
          .toArray.sortBy(_._1)
        val n = cand.length
        // running max-sim vs picked so far; −∞ sentinel, NOT 0: cosines
        // can be negative and the max over picked must stay negative then
        // (only the empty-selection round contributes a literal 0)
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val used = Array.fill(n)(false)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var rank = 1L
        var nUsed = 0
        while (rank <= k && nUsed < n) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!used(i)) {
              val ms = if (nUsed == 0) 0.0 else maxSim(i)
              // NaN rel (e.g. an upstream 0/0 score) sorts below everything:
              // NaN fails every >, so an unmapped NaN would leave best == -1
              // and crash the used() update below
              val rel = if (cand(i)._2.isNaN) Double.NegativeInfinity else cand(i)._2
              val s = lambda * rel - (1.0 - lambda) * ms
              // strict > with doc-ascending scan = smallest doc id wins ties
              if (s > bestScore) { bestScore = s; best = i }
            }
            i += 1
          }
          // every survivor scored -Inf (all-NaN shortlist): nothing rankable
          if (best == -1) { rank = k + 1 }
          else {
          used(best) = true; nUsed += 1
          out += ((qid, rank, cand(best)._1,
            BigDecimal(bestScore).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
          i = 0
          while (i < n) { // fold the new pick into every survivor's max
            if (!used(i)) {
              val s = round4(cosine(cand(i)._3, cand(best)._3))
              if (s > maxSim(i)) maxSim(i) = s
            }
            i += 1
          }
          rank += 1
          }
        }
        out.iterator
      }
      .toDF("query_id", "rank", "doc_id", "mmr")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): given per-system
    * rankings (query_id, doc_id, rank), fuse as
    * rrf(d) = Σ_systems 1/(c + rank_s(d)) with the canonical c = 60,
    * keep the k best fused per query. Rank-based, so the systems'
    * incomparable scores (BM25 vs cosine) never mix; each reciprocal is
    * rounded to 6 dp and summed as decimal so the fused ordering is
    * engine-exact. The union and the one keyed aggregation shuffle
    * O(candidates) tiny rows — nothing rescans the source rankings'
    * inputs.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    val contribs = rankings
      .map(_.select(col("query_id"), col("doc_id"),
        round(lit(1.0) / (lit(c) + col("rank")), 6).cast("decimal(18,6)").as("rc")))
      .reduce(_ unionAll _)
    val fused = contribs.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("rc")).as("dscore"), count(lit(1)).as("n_lists"))
      .select(col("query_id"), col("doc_id"),
        col("dscore").cast("double").as("rrf"), col("n_lists"))
    // doc_id is unique per query, so the (neg, doc_id) struct prefix fixes
    // the heap's total order and rrf/n_lists just ride along — no rejoin
    fused.groupBy(col("query_id"))
      .agg(graft.functions.TopK.smallestK(
        struct((lit(0.0) - col("rrf")).as("neg"), col("doc_id"),
          col("rrf"), col("n_lists")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.doc_id").as("doc_id"), col("col.rrf").as("rrf"),
        col("col.n_lists").as("n_lists"))
  }
}
