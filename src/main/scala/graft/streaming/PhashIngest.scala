package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Multimodal}
import graft.streaming.BatchMarker.Sink

/** Streamed IMAGE dedup ingest — the multimodal twin of
  * [[IngestWithDigest]]: encoded images arrive in micro-batches, each
  * batch is decoded → perceptually hashed ([[Multimodal.imageDHash]]) →
  * near-dup-paired against the WHOLE accumulated signature index
  * ([[Dedup.hammingPairsHiLoIncremental]] — new-new and new-old pairs
  * only, the old-old quadratic term never forms), and then the batch's
  * signatures join the index. What a crawl pipeline runs when every day's
  * images must be deduplicated against all of history without ever
  * re-hashing or re-pairing it.
  *
  * Layout under `indexPath`:
  *   - `sigs/batch_id=<b>/`  — (doc_id, hash_hi, hash_lo): 3 longs per
  *     image, orders of magnitude smaller than the payload corpus (the
  *     digest-table posture), read once per batch as the probe target;
  *   - `pairs/batch_id=<b>/` — (doc_a, doc_b, hamming): the batch's
  *     incremental pair emission. Because batch b's emission is exactly
  *     "pairs touching b against everything ≤ b", the UNION over all
  *     batches is exactly the all-pairs set over the accumulated corpus,
  *     each pair exactly once (in the batch of its LATER member) — which
  *     is what lets one brute-force oracle verify the whole accumulation.
  *
  * Exactly-once: both sinks run through the [[BatchMarker.ingest]] core,
  * each with its `has_data` sentinel. Pairs are computed from the
  * PRE-batch signature state and the signature append commits LAST, so
  * every replay window recomputes an identical pair set: a crash before
  * the pairs marker rewrites pairs from unchanged inputs; one after it
  * skips pairs and completes the signature append.
  *
  * Caller contract (matching [[Dedup.hammingPairsHiLoIncremental]]):
  * batches carry disjoint media_ids — an id belongs to the batch that
  * first delivers it.
  */
object PhashIngest {

  /** Run the stream: each micro-batch of (media_id, payload, media_type)
    * rows is hashed, paired against the accumulated index and appended to
    * it. Returns the started query (caller stops it).
    */
  def start(media: DataFrame, indexPath: String, checkpoint: String,
      maxHamming: Int = 3, bands: Int = 4): StreamingQuery =
    BatchMarker.stream(media, checkpoint)(
      processBatch(_, _, indexPath, maxHamming, bands))

  private def sink(indexPath: String, table: String) = Sink(indexPath, table,
    s"$indexPath/$table", sentinel = Some(s"$indexPath/$table/_batches_has_data"))

  /** One micro-batch, callable from tests and backfills directly. */
  def processBatch(media: DataFrame, batchId: Long, indexPath: String,
      maxHamming: Int = 3, bands: Int = 4): Unit = {
    val spark = media.sparkSession
    val pairs = sink(indexPath, "pairs")
    val sigs = sink(indexPath, "sigs")
    BatchMarker.ingest(media, batchId, Seq(pairs, sigs), skipEmpty = true) { pending =>
      // decode once per batch: both the pair emission and the index append
      // consume these rows. Corrupt payloads decode=false and are dropped
      // HERE — they can neither pair nor poison the index.
      val batchSigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
        .persist()
      try {
        pending.append(pairs) {
          val history =
            if (BatchMarker.hasData(spark, sigs)) readSigs(spark, indexPath)
            else batchSigs.limit(0)
          Dedup.hammingPairsHiLoIncremental(history, batchSigs, maxHamming,
            bands)
        }
        pending.append(sigs)(batchSigs)
      } finally batchSigs.unpersist()
    }
  }

  /** The accumulated pair table (empty-but-typed if no batch has emitted
    * pairs yet — a table that never materialized a partition dir cannot
    * be read back, so the sentinel gates the read).
    */
  def readPairs(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    if (BatchMarker.hasData(spark, sink(indexPath, "pairs")))
      spark.read.parquet(s"$indexPath/pairs")
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    else
      Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "hamming")
  }

  /** The accumulated signature index (empty-but-typed before any rows). */
  def readSigs(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    if (BatchMarker.hasData(spark, sink(indexPath, "sigs")))
      spark.read.parquet(s"$indexPath/sigs")
        .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    else
      Seq.empty[(Long, Long, Long)].toDF("doc_id", "hash_hi", "hash_lo")
  }
}
