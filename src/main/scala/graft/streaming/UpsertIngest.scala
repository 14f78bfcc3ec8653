package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streamed keyed upsert as a CHANGELOG table — the merge-on-read
  * counterpart of [[graft.sinks.Upsert]]'s copy-on-write merge, under the
  * [[BatchMarker]] exactly-once protocol: each micro-batch of (key, attrs)
  * rows appends verbatim under `log/batch_id=<b>/` (the batch id IS the
  * version — monotone by the streaming engine's contract), and the
  * serving read resolves each key to its highest-batch row with one
  * per-key window. This is the Hudi/Iceberg-style ingest posture: writes
  * are pure appends at any rate; read amplification grows with log depth
  * and is paid back by compacting the resolved view into a fresh log
  * ([[maybeCompact]]).
  *
  * Within one batch the caller owes one row per key (the same contract
  * as [[graft.sinks.Upsert]] — enforce upstream with an
  * [[graft.operators.Expectations]] uniqueness check); across batches
  * later batch ids win, which is exactly upsert semantics.
  */
object UpsertIngest {

  def start(updates: DataFrame, tablePath: String, checkpoint: String,
      uniqueKey: Option[String] = None): StreamingQuery =
    BatchMarker.stream(updates, checkpoint)(
      processBatch(_, _, tablePath, uniqueKey))

  private def logSink(tablePath: String) = BatchMarker.Sink(tablePath, "log",
    s"$tablePath/log", staging = Some(s"$tablePath/_compact_tmp"))

  /** One micro-batch, callable from tests and backfills directly.
    *
    * @param uniqueKey when set, the one-row-per-key-per-batch caller
    *   contract is ENFORCED: a batch carrying duplicate keys fails here,
    *   before anything lands, naming the offending keys — instead of the
    *   violation resolving silently (deterministically, but silently) at
    *   read time. One extra aggregation over the batch; leave None when
    *   the upstream already guarantees uniqueness.
    */
  def processBatch(batch: DataFrame, batchId: Long, tablePath: String,
      uniqueKey: Option[String] = None): Unit = {
    val log = logSink(tablePath)
    BatchMarker.ingest(batch, batchId, Seq(log), skipEmpty = true) { pending =>
      uniqueKey.foreach { k =>
        val dups = batch.groupBy(col(k)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1)
          .select(col(k)).limit(5).collect().map(_.get(0))
        if (dups.nonEmpty)
          throw new IllegalArgumentException(
            s"batch $batchId violates the one-row-per-key contract on '$k' " +
              s"(sample duplicate keys: ${dups.mkString(", ")}) — dedupe " +
              "upstream or drop uniqueKey to accept content-hash resolution")
      }
      pending.append(log)(batch)
    }
  }

  /** Merge-on-read resolve: latest batch per key. One shuffle on the key;
    * the window ranks the few versions of one key, never the table.
    * Precondition: at least one data-bearing batch has landed — an
    * all-empty-batch log has no files and therefore no inferable schema,
    * so the read throws (Spark's own contract; a changelog table's schema
    * is unknowable before its first row).
    */
  def readLatest(spark: SparkSession, tablePath: String, keyCol: String): DataFrame = {
    recoverCompaction(spark, tablePath)
    latestPerKey(readLog(spark, tablePath), keyCol)
  }

  /** SCHEMA EVOLUTION contract: the log is read with `mergeSchema` — a
    * later batch may ADD columns (the additive half of evolution every
    * changelog store supports), and without the merged read Spark infers
    * the schema from an arbitrary file, silently dropping the new column
    * for every key depending on file order. With it, pre-evolution rows
    * surface NULL in the new columns deterministically. (Type changes and
    * drops remain the caller's migration problem, as everywhere.)
    */
  private def readLog(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$tablePath/log")

  /** TIME TRAVEL: the table as of batch `asOfBatch` — the same per-key
    * resolve restricted to log rows with `batch_id <= asOfBatch` (the
    * batch id IS the version, so this is "the state after batch N
    * landed"). The batch_id partition-prunes the log scan, so an as-of
    * read lists only the surviving early directories. Retention horizon:
    * a compaction collapses all history into the highest landed id —
    * after it, as-of reads older than that id see an EMPTY (not stale)
    * state, exactly the lakehouse cleaning contract: time travel reaches
    * back only to the last compaction, and the caller trades read
    * amplification against history depth by choosing when to compact.
    */
  def readAsOf(spark: SparkSession, tablePath: String, keyCol: String,
      asOfBatch: Long): DataFrame = {
    recoverCompaction(spark, tablePath)
    latestPerKey(
      readLog(spark, tablePath).filter(col("batch_id") <= asOfBatch), keyCol)
  }

  /** INCREMENTAL consumption: the rows whose resolved state CHANGED
    * between two versions — semantically `readAsOf(to)` minus
    * `readAsOf(from)` by full row — so a downstream pipeline processes
    * per-key deltas instead of rescanning the table (updates surface with
    * their new attributes, inserts as new keys, CDC soft deletes as their
    * tombstone rows; a key untouched between the versions never appears).
    *
    * DELTA-SHAPED, not snapshot-diffed: only a key that appears in a
    * batch in `(from, to]` can differ between the endpoints, so the plan
    * is (1) a batch_id-partition-pruned scan of JUST the delta batches to
    * get the touched-key set, (2) a broadcast semi-join narrowing the log
    * to those keys (the delta key set is small by the
    * incremental-consumption premise), (3) the shared per-key resolve of
    * ONLY those keys at both endpoints, diffed. Cost is O(delta keys'
    * history), not O(2 × table) — the full log is never resolved
    * (PlanInvariantsSpec pins the partition filter and the semi-join).
    *
    * Same retention horizon as [[readAsOf]]: both endpoints must be at or
    * after the last compaction. The broadcast rides on that premise — a
    * consumer bootstrapping from the table's beginning should use
    * [[readAsOf]] (the full snapshot IS its answer), not a change read
    * whose "delta" is every key ever written.
    */
  def readChanges(spark: SparkSession, tablePath: String, keyCol: String,
      fromBatch: Long, toBatch: Long): DataFrame = {
    val (pre, post) = deltaEndpoints(spark, tablePath, keyCol, fromBatch, toBatch)
    post.exceptAll(pre)
  }

  /** The two bounded endpoint resolves every change read shares: the
    * touched-key set from a batch_id-partition-pruned scan of JUST the
    * `(from, to]` batches, semi-joined against the log (the batch_id
    * endpoint filters push through into the scans' partition filters),
    * then the shared per-key window at each endpoint. Lazy — callers
    * that consume an endpoint more than once materialize it themselves.
    */
  private[streaming] def deltaEndpoints(spark: SparkSession, tablePath: String,
      keyCol: String, fromBatch: Long, toBatch: Long): (DataFrame, DataFrame) = {
    require(fromBatch <= toBatch, "fromBatch must be <= toBatch")
    recoverCompaction(spark, tablePath)
    val log = readLog(spark, tablePath)
    val touched = log
      .filter(col("batch_id") > fromBatch && col("batch_id") <= toBatch)
      .select(col(keyCol)).distinct()
    val scoped = log.filter(col("batch_id") <= toBatch)
      .join(broadcast(touched), Seq(keyCol), "left_semi")
    (latestPerKey(scoped.filter(col("batch_id") <= fromBatch), keyCol),
      latestPerKey(scoped, keyCol))
  }

  /** CHANGE FEED between two versions — [[readChanges]] upgraded to the
    * Delta-CDF row convention: each changed key yields its post-image
    * tagged `insert` (no row at `from`) or `update_postimage`, and
    * updates ALSO yield the prior row tagged `update_preimage` — exactly
    * what a downstream INCREMENTAL consumer needs to maintain an
    * aggregate by retraction (subtract the pre-image, add the
    * post-image) instead of rescanning the table. Tombstone rows flow
    * like any update (soft-delete semantics ride in the payload, as
    * everywhere in this changelog).
    *
    * Same delta shape as [[readChanges]]: batch-pruned touched keys,
    * semi-joined resolve of ONLY those keys at both endpoints —
    * O(delta keys' history). Same retention horizon. The `_change_type`
    * column is appended last so the payload schema stays positionally
    * stable for consumers of either reader.
    */
  def readChangeFeed(spark: SparkSession, tablePath: String, keyCol: String,
      fromBatch: Long, toBatch: Long): DataFrame = {
    // the three image legs below consume each endpoint several times, and
    // Spark does not reuse the resolve subtree across them — so the feed
    // MATERIALIZES the two bounded endpoint frames (and the diff) once,
    // eagerly: O(delta) rows each by the incremental-consumption premise.
    // The delta plan shape itself stays pinned via readChanges
    // (etl_upsert_changes in PlanInvariantsSpec) and the deltaEndpoints
    // assertions in UpsertIngestSpec; the published feed plan carries NO
    // log scans at all — the proof the endpoints resolved exactly once.
    val (pre0, post0) =
      deltaEndpoints(spark, tablePath, keyCol, fromBatch, toBatch)
    val pre = pre0.localCheckpoint()
    val post = post0.localCheckpoint()
    // post-images whose full row differs from their pre-image (a key
    // re-upserted to identical values is NOT a change, matching
    // readChanges); split insert vs update on pre-key existence
    val changedPost = post.exceptAll(pre).localCheckpoint()
    val preKeys = pre.select(col(keyCol))
    val inserts = changedPost.join(broadcast(preKeys), Seq(keyCol), "left_anti")
      .withColumn("_change_type", lit("insert"))
    val updPost = changedPost.join(broadcast(preKeys), Seq(keyCol), "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
    val updPre = pre.join(
        broadcast(changedPost.select(col(keyCol))), Seq(keyCol), "left_semi")
      .withColumn("_change_type", lit("update_preimage"))
    inserts.unionByName(updPost).unionByName(updPre)
  }

  /** Latest-batch-per-key resolve — the one window both [[readLatest]]
    * and the compaction use, so a compaction can never change which row
    * a key resolves to. Within one batch the caller owes one row per key;
    * a violation still resolves DETERMINISTICALLY (content-hash order
    * over the sorted column list, not file/task order), so reruns and
    * pre/post-compaction reads agree instead of flapping — and truly
    * identical duplicate rows tie harmlessly.
    */
  private def latestPerKey(log: DataFrame, keyCol: String): DataFrame = {
    val tie = xxhash64(log.columns.filter(_ != "batch_id").sorted.map(col): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("batch_id").desc, tie.desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "batch_id")
  }

  /** Changelog health: batch-dir depth and data-file count — the two
    * read-amplification axes. O(listing), no data read.
    */
  final case class LogStats(nBatches: Int, nFiles: Int, nBytes: Long,
                            maxBatchId: Long)

  def logStats(spark: SparkSession, tablePath: String): LogStats = {
    val dirs = BatchMarker.batchDirs(spark, s"$tablePath/log")
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val files = dirs.flatMap(d => fs.listStatus(d.getPath))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val maxId = dirs.map(_.getPath.getName.stripPrefix("batch_id=").toLong)
      .foldLeft(-1L)(math.max)
    LogStats(dirs.size, files.size, files.map(_.getLen).sum, maxId)
  }

  /** The compaction POLICY: collapse the changelog whenever its depth
    * exceeds `maxBatches` OR its file count exceeds `maxFiles`
    * (`maxBatches = 0` compacts any non-empty log). Called between batches
    * (foreachBatch is serial per query, so the writer is quiesced exactly
    * then) or from a maintenance schedule. Returns whether a compaction
    * ran. At crawl cadence this bounds [[readLatest]]'s read amplification
    * to O(maxBatches) versions per key instead of O(all batches ever).
    *
    * The pass collapses the changelog to ONE batch holding the resolved
    * view — the shared per-key window → fresh log, the merge-on-read debt
    * payment, through [[BatchMarker.collapse]] (staged under
    * `_compact_tmp`, intent `_batches/compactlog_<id>`). The resolved rows
    * land under the HIGHEST landed batch id and the markers below it
    * collapse into the horizon, so the exactly-once replay contract
    * survives: a replayed pre-compaction batch short-circuits (its effects
    * are already inside the resolved view), and post-compaction batches
    * keep winning on their higher ids. [[recoverCompaction]] — called by
    * [[processBatch]] and every read — rolls an interrupted pass forward;
    * all of them serialize on the table's monitor. Caller contract: the
    * writer is quiescent, and one process owns the table's maintenance.
    *
    * Output file sizing follows [[graft.sinks.Compaction]]: file count
    * from on-disk log bytes over `targetBytes` (an upper bound on the
    * resolved size — resolve only drops rows), via a shuffle-free
    * coalesce.
    */
  def maybeCompact(spark: SparkSession, tablePath: String, keyCol: String,
      maxBatches: Int = 16, maxFiles: Int = 256,
      targetBytes: Long = 128L << 20): Boolean =
    BatchMarker.locked(tablePath) {
      recoverCompaction(spark, tablePath)
      // stats AFTER recovery (a rolled-forward swap changes both axes)
      val st = logStats(spark, tablePath)
      val due = st.nBatches > maxBatches || st.nFiles > maxFiles
      // the shared window, not readLatest: recovery already ran above, and
      // readLatest would re-enter it
      if (due)
        BatchMarker.collapse(spark, logSink(tablePath), targetBytes)(n =>
          latestPerKey(readLog(spark, tablePath), keyCol).coalesce(n))
      due
    }

  /** Roll forward an interrupted compaction from its intent marker.
    * No-op in O(1) listing when no intent marker exists.
    */
  def recoverCompaction(spark: SparkSession, tablePath: String): Unit =
    BatchMarker.recover(spark, Seq(logSink(tablePath)))
}
