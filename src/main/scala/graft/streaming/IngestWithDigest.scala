package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.BatchMarker.Sink

/** Streaming ingestion against a PERSISTENT dedup digest — the foreachBatch
  * pattern a production pipeline deploys when arriving documents must be
  * deduplicated against the WHOLE HISTORY, not just the watermark span
  * (which is all `dropDuplicatesWithinWatermark` state can hold):
  *
  * per micro-batch, transactionally per batchId:
  *   1. anti-join the batch's content digests against the digest TABLE on
  *      disk (broadcast of the batch side's digests — the batch is small,
  *      the history is not),
  *   2. append survivors to the corpus sink,
  *   3. append the survivors' digests to the digest table.
  *
  * Exactly-once per batchId through the [[BatchMarker.ingest]] core, one
  * sink per table (each under its own root): the two parquet jobs never
  * commit atomically together, so a crash between the appends replays
  * into "corpus has this batch, digest does not" — the corpus append is
  * skipped, and the digest append, recomputed from the same pre-batch
  * digest state the crashed attempt saw, completes the pair.
  *
  * At 100 TB the digest table is (md5, batch_id) — ~48 bytes a document,
  * orders of magnitude smaller than the corpus; the per-batch anti-join
  * reads it once. The bloom-prefiltered arm of
  * [[graft.operators.Dedup.incrementalDedupFlags]] drops in when even
  * that read needs cutting.
  */
object IngestWithDigest {

  /** Run the stream: each micro-batch is deduped against (and then added
    * to) the digest table at `digestPath`; survivors append to
    * `corpusPath`. Returns the started query (caller stops it).
    */
  def start(docs: DataFrame, corpusPath: String, digestPath: String,
      checkpoint: String): StreamingQuery =
    BatchMarker.stream(docs, checkpoint)(
      processBatch(_, _, corpusPath, digestPath))

  /** One micro-batch, callable from tests directly: dedup against the
    * digest, append survivors (stamped with their batch_id) + their
    * digests.
    */
  def processBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      digestPath: String): Unit = {
    val spark = batch.sparkSession
    val corpus = Sink(corpusPath, "corpus", corpusPath)
    val digest = Sink(digestPath, "digest", digestPath,
      sentinel = Some(s"$digestPath/_batches/has_data"))
    BatchMarker.ingest(batch, batchId, Seq(corpus, digest),
        skipEmpty = false) { pending =>
      // null text digests under a reserved sentinel key, NOT as null and
      // NOT as md5(''): a null key would make same-batch null-text docs
      // collapse through the window while cross-batch ones never match
      // the anti-join (inconsistent both ways), and md5('') would
      // silently dedup "no content" against "empty content". The
      // sentinel cannot collide with a real digest — md5 hex is exactly
      // 32 [0-9a-f] chars.
      val hashed = batch
        .withColumn("content_md5",
          when(col("text").isNull, lit("<null-text>"))
            .otherwise(md5(col("text").cast("binary"))))
        // a batch can carry its own internal dups: keep the smallest id
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("content_md5")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1).drop("__rk")

      // the digest never contains this batch here (digest is written
      // LAST, and a landed digest short-circuits), so the anti-join state
      // is the pre-batch history on first run and replay alike. "History
      // exists" is the digest's O(1) has_data sentinel (an all-duplicate
      // batch writes no partition dir and stamps nothing); an unreadable
      // digest that HAS history still throws at the read site, not
      // silently disabling dedup
      val history =
        if (BatchMarker.hasData(spark, digest))
          Some(spark.read.parquet(digestPath).select("content_md5"))
        else None
      // BOTH appends consume survivors; persisted so the window dedup and
      // the anti-join's full digest-history read run once per batch, not
      // once per sink (the scaladoc's "reads it once" promise)
      val survivors = (history match {
        case Some(h) => hashed.join(h, Seq("content_md5"), "left_anti")
        case None    => hashed
      }).persist()
      try {
        pending.append(corpus)(survivors.drop("content_md5"))
        pending.append(digest)(survivors.select(col("content_md5")))
      } finally survivors.unpersist()
    }
  }
}
