package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streamed crawl-curation ingest — the incremental twin of the batch
  * `pipeline_warc` pipeline ([[graft.queries.WarcQueries]]), for WARC
  * segments arriving as micro-batches at crawl cadence.
  *
  * Per batch of parsed pages `(doc_id, url, n_tokens, text_md5)`, replay
  * the batch pipeline's tiers incrementally against ONE accumulated log
  * table:
  *
  *  1. '''URL tier''': first arrival claims the canonical url — batch-local
  *     min `doc_id` per url, then an anti-join against every url already
  *     logged. A claim is recorded EVEN when the claimer then fails
  *     quality (`kept = false`): the fetch slot is consumed, later aliases
  *     must not revive it — exactly the batch pipeline's
  *     gate-after-url-dedup order.
  *  2. '''Quality tier''': token-count gate over the new claims only.
  *  3. '''Text tier''': batch-local min per `text_md5`, then an anti-join
  *     against the md5s of previously KEPT rows.
  *
  * Equivalence contract (proven by sharing `pipeline_warc`'s oracle): when
  * arrival order respects doc_id order — the crawl-segment layout
  * (`Warc.synthesizeFiles(rangePartition = true)`), where each new crawl
  * carries ids above all previous ones — greedy first-claim IS the batch
  * pipeline's global min-doc_id resolution, so `kept(...)` equals the
  * from-scratch result row-for-row.
  *
  * Exactly-once: one sink through the [[BatchMarker.ingest]] core (the
  * anti-join state is the pre-batch log on first run and replay alike),
  * its `has_data` sentinel gating the history read.
  *
  * At 100 TB the log is ~100 bytes per CLAIMED url (not per record read),
  * and each batch reads it once for two lookups; its small-file debt
  * compacts away with `sinks/Compaction.compactPartitions` + the
  * BatchMarker replay-state copy (spec-pinned in WarcIngestSpec: kept()
  * identical, landed batches still short-circuit, ingest continues with
  * history intact).
  */
object WarcIngest {

  /** Run the stream: each micro-batch of parsed pages goes through
    * [[processBatch]] transactionally per batchId. `pages` is a STREAMING
    * frame of the page-digest shape (in production: a binaryFile stream
    * of arriving WARC segments, parsed + WET-split + canonicalized
    * map-side; the record walk and extraction are plain Dataset ops, so
    * they lift to streaming unchanged). Returns the started query
    * (caller stops it).
    */
  def start(pages: DataFrame, logPath: String, checkpoint: String,
      minTokens: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    BatchMarker.stream(pages, checkpoint)(
      processBatch(_, _, logPath, minTokens))

  private def logSink(logPath: String) = BatchMarker.Sink(logPath, "log",
    logPath, sentinel = Some(s"$logPath/_batches/has_data"))

  /** One micro-batch. `pages` must carry unique `doc_id` plus `url`,
    * `n_tokens`, `text_md5` (the `WarcQueries.warcPages` shape).
    */
  def processBatch(pages: DataFrame, batchId: Long, logPath: String,
      minTokens: Int = 3): Unit = {
    val spark = pages.sparkSession
    val log = logSink(logPath)
    BatchMarker.ingest(pages, batchId, Seq(log), skipEmpty = false) { pending =>
      val history =
        if (BatchMarker.hasData(spark, log)) Some(spark.read.parquet(logPath))
        else None

      // tier 1: batch-local first arrival per url, then the claim check
      val urlCand = pages
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("url")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1).drop("__rk")
      val urlNew = (history match {
        case Some(h) => urlCand.join(h.select("url"), Seq("url"), "left_anti")
        case None    => urlCand
      }).persist() // referenced by tiers 2-3 AND the final append

      try {
        // tier 2 + 3: quality gate, then first arrival per text digest
        val gated = urlNew.filter(col("n_tokens") >= minTokens)
        val textCand = gated
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("text_md5")).orderBy(col("doc_id"))))
          .filter(col("__rk") === 1).drop("__rk")
        val textNew = history match {
          case Some(h) =>
            textCand.join(h.filter(col("kept")).select("text_md5"),
              Seq("text_md5"), "left_anti")
          case None => textCand
        }

        // one append: every new url claim, flagged kept where it survived
        // all tiers (quality failures and text dups land with kept = false
        // — they hold their url slot but never surface in kept())
        val out = urlNew
          .join(textNew.select(col("doc_id"), lit(true).as("__kept")),
            Seq("doc_id"), "left")
          .withColumn("kept", coalesce(col("__kept"), lit(false)))
          .drop("__kept")
        pending.append(log)(out)
      } finally urlNew.unpersist()
    }
  }

  /** The curated corpus: rows that survived every tier, across all landed
    * batches. Gated on the log's `has_data` sentinel: before any
    * data-bearing batch lands the log has no files and no inferable
    * schema, so the read returns an empty typed frame instead of throwing.
    */
  def kept(spark: SparkSession, logPath: String): DataFrame = {
    import spark.implicits._
    if (BatchMarker.hasData(spark, logSink(logPath)))
      spark.read.parquet(logPath).filter(col("kept"))
        .select("doc_id", "url", "n_tokens")
    else Seq.empty[(Long, String, Long)].toDF("doc_id", "url", "n_tokens")
  }
}
