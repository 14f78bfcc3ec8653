package graft.streaming

import graft.operators.Retrieval
import graft.streaming.BatchMarker.Sink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the BM25 inverted index — the foreachBatch
  * companion to [[graft.operators.Retrieval]]: each arriving micro-batch
  * of documents appends its OWN postings and doc-length partitions to the
  * index tables on disk. Because batches are doc-disjoint, per-(token,
  * doc) counts from different batches never collide, so maintenance is a
  * pure append — no read-modify-write of the index, no rebuild (the
  * contract the `text_bm25_incremental` driver row proves in batch form:
  * a search over unioned batch indexes equals a search over the one-shot
  * index). Corpus-level statistics (df, N, avgdl) are derived at SEARCH
  * time from the accumulated tables, so they are always current without
  * any maintained aggregate.
  *
  * Exactly-once per batchId through the [[BatchMarker.ingest]] core, one
  * sink per table: the two parquet appends cannot commit atomically
  * together, so a crash between them replays into "doclens has this
  * batch, postings does not" and only the postings append runs again.
  * Until the replay lands, [[bm25TopK]] restricts itself to batches
  * present in BOTH tables — an orphaned half must not even skew the
  * derived n_docs/avgdl statistics, let alone score.
  *
  * At 100 TB each batch lands as its own partition files; the
  * [[graft.sinks.Compaction]] pass coalesces small batch files, and a
  * token-bucketed rewrite remains the read-path optimization exactly as
  * in the batch-built index.
  */
object IndexIngest {

  /** Run the stream: each micro-batch's postings/doclens append to
    * `indexPath`. Returns the started query (caller stops it).
    */
  def start(docs: DataFrame, indexPath: String, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id"): StreamingQuery =
    BatchMarker.stream(docs, checkpoint)(
      processBatch(_, _, indexPath, textCol, idCol))

  private def sinks(indexPath: String, outer: Option[String] = None) = (
    Sink(indexPath, "postings", s"$indexPath/postings", outer),
    Sink(indexPath, "doclens", s"$indexPath/doclens"))

  /** One micro-batch, callable from tests directly. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val (postingsSink, doclensSink) = sinks(indexPath)
    BatchMarker.ingest(batch, batchId, Seq(postingsSink, doclensSink),
        skipEmpty = false) { pending =>
      // both sinks derive from the same tokenization — persist the batch
      // so it runs once, not once per append
      val cached = batch.persist()
      try {
        val (postings, doclens) = Retrieval.invertedIndex(cached, textCol, idCol)
        pending.append(doclensSink)(doclens)
        pending.append(postingsSink)(postings)
      } finally cached.unpersist()
    }
  }

  /** Search the accumulated index: same scorer as the batch path — the
    * tables just happen to have been written one batch at a time.
    *
    * Only FULLY-landed batches participate: a crash between the two
    * appends leaves one table with a batch the other lacks, and while the
    * orphan docs could never score (search drives from postings ⨝
    * doclens), an orphaned doclens half would still skew the derived
    * n_docs/avgdl corpus statistics — so both reads filter to the batch
    * ids present in BOTH tables (a distinct over the handful of batch
    * ids, collected driver-side).
    */
  def bm25TopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queries: DataFrame, k: Int): DataFrame = {
    val postingsRaw = spark.read.parquet(s"$indexPath/postings")
    val doclensRaw = spark.read.parquet(s"$indexPath/doclens")
    // the intersection stays IN the plan as a broadcast semi-join (batch
    // ids are a handful of rows) — no eager driver-side scans per search
    val complete = broadcast(
      postingsRaw.select(col("batch_id")).distinct()
        .join(doclensRaw.select(col("batch_id")).distinct(), Seq("batch_id")))
    val postings = postingsRaw
      .join(complete, Seq("batch_id"), "left_semi")
      .select(col("token"), col("doc_id"), col("tf"))
    val doclens = doclensRaw
      .join(complete, Seq("batch_id"), "left_semi")
      .select(col("doc_id"), col("dl"))
    Retrieval.bm25TopK(postings, doclens, queries, k)
  }

  /** The partitioned-layout composition — a streaming batch appends its
    * postings UNDER the `tok_bucket=` directories of
    * [[graft.operators.Retrieval.writeIndexPartitioned]]'s layout (append
    * mode adds batch files inside existing partition dirs; nothing is
    * rewritten), so the accumulated index keeps the partition-pruned read
    * path while growing one doc-disjoint batch at a time — the "daily
    * crawl lands on the 100 TB index" shape. Replay guards are identical
    * to [[processBatch]].
    *
    * The bucket count is stamped into a one-row `meta` table by the FIRST
    * batch and every later batch re-reads it (the `nBuckets` parameter is
    * only consulted when no meta exists yet), so batches can never be
    * bucketed inconsistently — same self-describing-layout contract as the
    * batch-built index's stats table. Postings nest tok_bucket OUTER (the
    * pruned scan's partition key and the per-bucket compaction unit) with
    * batch_id INNER.
    */
  def processBatchPartitioned(batch: DataFrame, batchId: Long,
      indexPath: String, textCol: String = "text", idCol: String = "doc_id",
      nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val metaPath = s"$indexPath/meta"
    val (postingsSink, doclensSink) = sinks(indexPath, Some("tok_bucket"))
    BatchMarker.ingest(batch, batchId, Seq(postingsSink, doclensSink),
        skipEmpty = false) { pending =>
      // meta first, overwrite-idempotent: a crash after meta but before
      // any append replays into the same overwrite; later batches NEVER
      // trust the parameter again
      val buckets = readBuckets(spark, metaPath) match {
        case Some(b) => b
        case None =>
          import spark.implicits._
          Seq(nBuckets).toDF("n_buckets")
            .coalesce(1).write.mode("overwrite").parquet(metaPath)
          nBuckets
      }
      val (postings, doclens) = Retrieval.invertedIndex(batch, textCol, idCol)
      pending.append(doclensSink)(doclens)
      pending.append(postingsSink)(postings.withColumn("tok_bucket",
        pmod(xxhash64(col("token")), lit(buckets.toLong))))
    }
  }

  /** Partition-pruned search over the streamed index: the query terms'
    * buckets become scan-time literals exactly as in
    * [[graft.operators.Retrieval.bm25TopKPruned]], composed with the
    * both-tables completeness gate of [[bm25TopK]]. The doclens/stats side
    * is bucket-independent, so corpus statistics stay exact under the
    * prune.
    */
  def bm25TopKPruned(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int): DataFrame = {
    val buckets = readBuckets(spark, s"$indexPath/meta").getOrElse(
      throw new IllegalStateException(
        s"$indexPath/meta missing — not a partitioned streamed index"))
    val qbuckets = Retrieval.queryTokenBuckets(queries, buckets)
    val postingsRaw = spark.read.parquet(s"$indexPath/postings")
    val doclensRaw = spark.read.parquet(s"$indexPath/doclens")
    val complete = broadcast(
      postingsRaw.select(col("batch_id")).distinct()
        .join(doclensRaw.select(col("batch_id")).distinct(), Seq("batch_id")))
    val postings = postingsRaw
      .filter(col("tok_bucket").isin(qbuckets: _*))
      .join(complete, Seq("batch_id"), "left_semi")
      .select(col("token"), col("doc_id"), col("tf"))
    val doclens = doclensRaw
      .join(complete, Seq("batch_id"), "left_semi")
      .select(col("doc_id"), col("dl"))
    Retrieval.bm25TopK(postings, doclens, queries, k)
  }

  /** The committed bucket count, or None when no meta has COMMITTED yet
    * (no `_SUCCESS` — a crash mid-overwrite leaves only _temporary
    * debris, and the replay overwrites cleanly). A committed-but-
    * unreadable meta THROWS instead of returning None: swallowing it
    * would re-stamp the parameter's bucket count over the original and
    * silently bucket later batches inconsistently with earlier ones —
    * the narrowed-guard rule the digest history check follows.
    */
  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
      metaPath: String): Option[Int] =
    if (!BatchMarker.exists(spark, s"$metaPath/_SUCCESS")) None
    else Some(spark.read.parquet(metaPath).select(col("n_buckets"))
      .first().getInt(0))
}
