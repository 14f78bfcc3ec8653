package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{HtmlTextColumn, Url}
import graft.streaming.BatchMarker.Sink

/** Streamed LINK-GRAPH ingest — the edge-table half of the crawl loop,
  * accumulated as segments arrive: each micro-batch of parsed pages
  * appends (a) its canonical page URLs and (b) its canonical
  * (src_url, dst_url) anchor pairs, both PURE MAP-SIDE derivations (one
  * regexp pass for hrefs, column-only canonicalization — no join, no
  * shuffle at append time). Resolution happens at READ time:
  * [[edges]] joins the accumulated pairs against the accumulated URL
  * table, so a link captured BEFORE its target page is discovered is
  * simply unresolved until a later segment lands the target — real
  * crawl-frontier semantics, and the reason appends must not resolve.
  *
  * This ordering makes the end state equal to batch extraction over the
  * full archive (`QueryCommon.warcLinkEdges`): accumulated-distinct pairs
  * resolved against accumulated URLs ≡ whole-corpus pairs resolved
  * against the whole-corpus URL table — which is what lets
  * `warc_links_streamed` share `warc_links`' oracle verbatim (the
  * equivalence-twin convention).
  *
  * Exactly-once: both sinks run through the [[BatchMarker.ingest]] core,
  * each with its `has_data` sentinel, and compact through
  * [[BatchMarker.collapse]].
  */
object LinkIngest {

  /** Run the stream over parsed pages (the `Warc.httpParsed` shape:
    * `uri`, `http_status`, `body`). `compactAfterBatches` folds the
    * [[maybeCompact]] policy into the ingest loop, checked while the
    * writer is quiescent (foreachBatch is serial per query). Returns the
    * started query.
    */
  def start(pages: DataFrame, indexPath: String, checkpoint: String,
      compactAfterBatches: Option[Int] = None): StreamingQuery =
    BatchMarker.stream(pages, checkpoint) { (batch, batchId) =>
      processBatch(batch, batchId, indexPath)
      compactAfterBatches.foreach(m =>
        maybeCompact(batch.sparkSession, indexPath, m))
    }

  private val tables = Seq("pairs", "urls")

  private def sink(indexPath: String, table: String) = Sink(indexPath, table,
    s"$indexPath/$table",
    sentinel = Some(s"$indexPath/$table/_batches_has_data"),
    staging = Some(s"$indexPath/_compact_tmp/$table"))

  /** One micro-batch, callable from tests and backfills directly. */
  def processBatch(pages: DataFrame, batchId: Long, indexPath: String): Unit = {
    val pairs = sink(indexPath, "pairs")
    val urls = sink(indexPath, "urls")
    BatchMarker.ingest(pages, batchId, Seq(pairs, urls), skipEmpty = true) { pending =>
      // anchors from this batch's 200-status bodies, canonical on both
      // ends, per-batch distinct (the global distinct is the read's job)
      pending.append(pairs)(pages.filter(col("http_status") === 200)
        .select(Url.canonicalizeUrl(col("uri")).as("src_url"),
          explode(HtmlTextColumn.hrefs(col("body"))).as("href"))
        .filter(col("src_url").isNotNull)
        // RFC 3986 resolution against the canonical page url — relative
        // anchors accumulate the same canonical pairs as absolute ones
        .select(col("src_url"),
          Url.canonicalizeUrl(Url.resolveUrl(col("src_url"), col("href")))
            .as("dst_url"))
        .filter(col("dst_url").isNotNull)
        .distinct())
      // every fetched page claims its canonical URL (404s included — a
      // link to a dead page still resolves to a discovered node)
      pending.append(urls)(pages.select(Url.canonicalizeUrl(col("uri")).as("url"))
        .filter(col("url").isNotNull)
        .distinct())
    }
  }

  /** The resolved edge table over everything accumulated so far: distinct
    * pairs joined against the distinct discovered-URL table. Pairs whose
    * target is still undiscovered stay out — they resolve the moment a
    * later segment lands the target URL. Empty typed frame before any
    * data-bearing batch.
    *
    * `nodeOf` maps a canonical URL to its node id; the default hashes the
    * URL (`xxhash64` — collision odds negligible against web-graph
    * sizes), and a caller whose URL scheme carries a natural id (the test
    * fixture's path ids) passes its own extractor.
    */
  def edges(spark: SparkSession, indexPath: String,
      upToBatch: Option[Long] = None,
      nodeOf: Column => Column = xxhash64(_)): DataFrame = {
    import spark.implicits._
    recoverCompaction(spark, indexPath)
    if (!tables.forall(t => BatchMarker.hasData(spark, sink(indexPath, t))))
      return Seq.empty[(Long, Long)].toDF("src", "dst")
    // `upToBatch` is the TIME-TRAVEL read: the edge table as of segment
    // N — batch_id is the hive partition column on both tables, so the
    // bound prunes to the surviving early directories (the readAsOf
    // posture), which is what a crawl-cadence refresh diffs against
    def asOf(df: DataFrame) =
      upToBatch.fold(df)(b => df.filter(col("batch_id") <= b))
    val urls = asOf(spark.read.parquet(s"$indexPath/urls"))
      .select(col("url").as("dst_url")).distinct()
      .withColumn("dst", nodeOf(col("dst_url")))
    asOf(spark.read.parquet(s"$indexPath/pairs"))
      .select(col("src_url"), col("dst_url")).distinct()
      .join(urls, Seq("dst_url"))
      .select(nodeOf(col("src_url")).as("src"), col("dst"))
      .distinct()
  }

  /** Index health: batch-dir depth per table — the read-amplification
    * axis a segment-per-batch crawl grows without bound. O(listing).
    */
  def nBatches(spark: SparkSession, indexPath: String, table: String): Int =
    BatchMarker.batchDirs(spark, s"$indexPath/$table").size

  /** Compaction POLICY: collapse each table whose batch-dir depth exceeds
    * `maxBatches` (called between batches — foreachBatch is serial per
    * query, so the writer is quiesced exactly then). Returns whether any
    * table compacted. At crawl cadence this bounds [[edges]]'s listing
    * and small-file amplification to O(maxBatches) instead of O(all
    * segments ever).
    */
  def maybeCompact(spark: SparkSession, indexPath: String,
      maxBatches: Int = 16, targetBytes: Long = 128L << 20): Boolean =
    BatchMarker.locked(indexPath) {
      recoverCompaction(spark, indexPath)
      tables.map { t =>
        val due = nBatches(spark, indexPath, t) > maxBatches
        if (due) compactTable(spark, indexPath, t, targetBytes)
        due
      }.exists(identity)
    }

  /** Collapse BOTH tables' batch dirs into one resolved dir each through
    * [[BatchMarker.collapse]] (staged under `_compact_tmp/<table>`, intent
    * `_batches/compact<table>_<id>`) — semantics-preserving because
    * [[edges]] distincts anyway. RETENTION: like
    * `UpsertIngest.maybeCompact`, history collapses into the highest landed
    * id — `edges(upToBatch = N)` for N older than the horizon sees an
    * empty state, never a stale one. Tables compact independently — a
    * half-done pass (one table collapsed, the other not) reads correctly
    * throughout.
    */
  def compact(spark: SparkSession, indexPath: String,
      targetBytes: Long = 128L << 20): Unit =
    BatchMarker.locked(indexPath) {
      recoverCompaction(spark, indexPath)
      tables.foreach(compactTable(spark, indexPath, _, targetBytes))
    }

  private def compactTable(spark: SparkSession, indexPath: String,
      table: String, targetBytes: Long): Unit =
    BatchMarker.collapse(spark, sink(indexPath, table), targetBytes) { n =>
      // repartition, not coalesce: AQE may have coalesced the distinct to
      // fewer partitions than n, and coalesce can only reduce — the one
      // extra exchange buys a guaranteed-parallel write at the sized count
      spark.read.parquet(s"$indexPath/$table")
        .drop("batch_id").distinct()
        .repartition(n)
    }

  /** Roll forward interrupted table compactions from their intent
    * markers. No-op in O(1) listing when none exist.
    */
  def recoverCompaction(spark: SparkSession, indexPath: String): Unit =
    BatchMarker.recover(spark, tables.map(sink(indexPath, _)))
}
