package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

/** The exactly-once micro-batch core every streamed ingest runs on: each
  * ingest declares its [[Sink]]s (tables appended hive-partitioned by
  * `batch_id`), its public `start` delegates to [[stream]], and its
  * `processBatch` bodies run inside [[ingest]], which takes every batch
  * through the same steps in this order:
  *
  *  1. refuse a marker-less sink that already holds batches
  *     ([[assertMarkeredSink]]);
  *  2. create each root's `_batches` directory ([[ensureProtocol]]), and
  *     roll forward an interrupted compaction of a compacting sink
  *     ([[recover]]) — before any append, which it would otherwise delete;
  *  3. check each sink's O(1) marker `<root>/_batches/<sink>_<id>`:
  *     [[landedOrCollapsed]] for a compacting sink (whose markers below
  *     the compaction horizon are GC'd), [[landed]] for every other one, so
  *     a sink that never compacts never lists its marker roster;
  *  4. repair the marker→sentinel crash window of each landed sink;
  *  5. return when every sink has landed (a replay of a landed batch);
  *  6. delete the partial dirs of each pending sink (safe precisely
  *     BECAUSE the layout partitions by batch_id: the batch owns them);
  *  7. run the caller's body, whose [[Pending.append]] per sink writes the
  *     rows, commits that sink's marker, then stamps its sentinel.
  *
  * Why a marker and not "does the batch's partition dir exist": a Hadoop
  * committer commits a job's partition directories as a SEQUENCE of
  * renames, and even one `batch_id=N` dir is filled one task at a time —
  * a crash mid-commit leaves part of a batch that a dir-existence guard
  * would then skip forever. A crash between an append and its marker
  * replays into step 6 (delete + rewrite), which is idempotent: the batch
  * content is a pure function of the batch and the pre-batch state.
  *
  * Sentinels: a sink whose history is read back (dedup against the past,
  * or a reader that must tell "no data yet" from "unreadable") carries a
  * zero-byte `has_data` sentinel, stamped the first time an append lands
  * rows, so "does the table exist yet" stays O(1) instead of a
  * `batch_id=*` listing that grows with every batch. Two layouts exist on
  * disk and both stay for compatibility with sinks already written: a
  * sink that owns its root keeps it at `<root>/_batches/has_data`
  * ([[IngestWithDigest]], [[WarcIngest]]); a sink sharing its root with a
  * sibling keeps it beside its table at `<root>/<table>/_batches_has_data`
  * ([[PhashIngest]], [[LinkIngest]]).
  *
  * The `_batches` directory IS the sink's replay state: when cloning or
  * compacting a sink to a new path, copy it along with the data tables —
  * a marker-less copy that holds batches is refused by step 1 precisely
  * because its replay state would otherwise be unknowable.
  */
object BatchMarker {

  /** One append target of an ingest: marker `name` under `<root>/_batches`,
    * rows under `dir`, each batch in `<dir>/batch_id=<id>` — or, with an
    * `outer` partition column, in `<dir>/<outer>=<v>/batch_id=<id>` for
    * every value `v`. `sentinel` is the sink's `has_data` path, if it has
    * one (flat layouts only); `staging` is where a compaction stages its
    * collapsed dir, set only on a sink that compacts.
    */
  final case class Sink(root: String, name: String, dir: String,
      outer: Option[String] = None, sentinel: Option[String] = None,
      staging: Option[String] = None) {
    private[BatchMarker] def batchDir(id: Any): String =
      dir + outer.fold("")(c => s"/$c=*") + s"/batch_id=$id"
  }

  /** The sinks one batch still owes, handed to the ingest body. */
  final class Pending private[BatchMarker] (spark: SparkSession,
      batchId: Long, sinks: Set[Sink]) {

    /** Append `rows` (stamped with this batch's id, partitioned by the
      * sink's `outer` column then `batch_id`) to `sink`, commit its
      * marker, then stamp its sentinel if the append landed rows. Marker
      * FIRST: a crash between the two replays into step 4. The other
      * order would wedge the stream — replay's step 6 deletes the rows
      * while the sentinel keeps claiming data exists. A no-op for a sink
      * that already landed this batch; `rows` is then never built.
      */
    def append(sink: Sink)(rows: => DataFrame): Unit =
      if (sinks(sink)) {
        rows.withColumn("batch_id", lit(batchId))
          .write.mode("append")
          .partitionBy(sink.outer.toSeq :+ "batch_id": _*)
          .parquet(sink.dir)
        commit(spark, sink.root, sink.name, batchId)
        stampIfLanded(spark, sink, batchId)
      }
  }

  /** Run `process` on every micro-batch of `source`, exactly once per
    * batchId through the checkpoint at `checkpoint`. Returns the started
    * query (the caller stops it).
    */
  private[streaming] def stream(source: DataFrame, checkpoint: String)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        process(batch, batchId)
      }
      .start()

  /** Take one micro-batch through the protocol's steps (see the object
    * doc) and run `body` on the sinks it still owes. `skipEmpty` probes
    * the batch once (`isEmpty`, a limit-1 job) and lands an empty batch as
    * markers only — for the bodies whose work would otherwise stamp
    * something from no rows.
    */
  private[graft] def ingest(batch: DataFrame, batchId: Long, sinks: Seq[Sink],
      skipEmpty: Boolean)(body: Pending => Unit): Unit = {
    val spark = batch.sparkSession
    sinks.foreach(s => assertMarkeredSink(spark, s.root, s.batchDir("*")))
    sinks.map(_.root).distinct.foreach(ensureProtocol(spark, _))
    recover(spark, sinks.filter(_.staging.isDefined))
    val pending = sinks.filterNot { s =>
      val has =
        if (s.staging.isDefined) landedOrCollapsed(spark, s.root, s.name, batchId)
        else landed(spark, s.root, s.name, batchId)
      if (has) stampIfLanded(spark, s, batchId)
      has
    }
    if (pending.isEmpty) return
    pending.foreach(s => clearPartial(spark, s.batchDir(batchId)))
    if (skipEmpty && batch.isEmpty)
      pending.foreach(s => commit(spark, s.root, s.name, batchId))
    else body(new Pending(spark, batchId, pending.toSet))
  }

  /** Whether `sink` has landed rows: its sentinel exists. */
  private[streaming] def hasData(spark: SparkSession, sink: Sink): Boolean =
    sink.sentinel.exists(exists(spark, _))

  /** Existence through the Hadoop FileSystem of the path's scheme — a
    * java.io.File test is local-only and silently false on hdfs:///s3a://.
    */
  private[streaming] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Stamp `sink`'s sentinel when batch `id` left rows in its (flat)
    * batch dir — an append with no rows writes no dir and stamps nothing.
    */
  private def stampIfLanded(spark: SparkSession, sink: Sink, id: Long): Unit =
    sink.sentinel.foreach { s =>
      if (!exists(spark, s) && exists(spark, sink.batchDir(id))) {
        val p = new Path(s)
        val fs = this.fs(spark, p)
        fs.mkdirs(p.getParent)
        fs.create(p, true).close()
      }
    }

  private def markerPath(indexPath: String, sink: String, batchId: Long) =
    new Path(s"$indexPath/_batches", s"${sink}_$batchId")

  def landed(spark: SparkSession, indexPath: String, sink: String,
      batchId: Long): Boolean =
    exists(spark, markerPath(indexPath, sink, batchId).toString)

  /** Create the `_batches` directory BEFORE any data is appended. This is
    * what lets [[assertMarkeredSink]] tell a pre-marker sink apart from a
    * marker-era sink whose very first batch crashed between its append
    * and its marker: the protocol dir exists from the first ATTEMPT, not
    * the first success, so that crash replays (delete + rewrite) instead
    * of being mistaken for legacy data. Idempotent, O(1).
    */
  def ensureProtocol(spark: SparkSession, indexPath: String): Unit = {
    val p = new Path(s"$indexPath/_batches")
    fs(spark, p).mkdirs(p)
  }

  /** Delete every path matching `glob` — the crash-replay cleanup of a
    * batch's partial partition dirs.
    */
  private def clearPartial(spark: SparkSession, glob: String): Unit = {
    val g = new Path(glob)
    val fs = this.fs(spark, g)
    val hits = fs.globStatus(g) // null when the parent doesn't exist
    if (hits != null) hits.foreach(st => fs.delete(st.getPath, true))
  }

  def commit(spark: SparkSession, indexPath: String, sink: String,
      batchId: Long): Unit = {
    val p = markerPath(indexPath, sink, batchId)
    val fs = this.fs(spark, p)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Marker GC under a compaction: advance the sink's horizon to `id` and
    * delete every per-batch marker at or below it — the roster would
    * otherwise grow one file per micro-batch FOREVER (recovery and
    * compaction listings scale with it at crawl cadence). Safe ONLY after
    * a compaction has collapsed those batches' data under one surviving
    * dir: from then on [[landedOrCollapsed]] answers "landed" for the
    * whole range from the single `<sink>_horizon_<id>` file, so a
    * pre-horizon replay still short-circuits while live markers stay
    * O(batches since last compaction). Ordering makes a crash anywhere
    * harmless: the new horizon file lands FIRST, so every marker it
    * covers is deletable debris from that point on (an older horizon
    * file is itself covered and removed the same way).
    */
  private def advanceHorizon(spark: SparkSession, indexPath: String,
      sink: String, id: Long): Unit = {
    val batches = new Path(s"$indexPath/_batches")
    val fs = this.fs(spark, batches)
    fs.mkdirs(batches)
    fs.create(new Path(batches, s"${sink}_horizon_$id"), true).close()
    val bare = s"${sink}_"
    fs.listStatus(batches).foreach { st =>
      val nm = st.getPath.getName
      val old = nm.stripPrefix(s"${sink}_horizon_")
      // nonEmpty guards: a malformed marker name (bare prefix, no id)
      // must never crash the GC — compaction would then fail forever
      if (nm.startsWith(s"${sink}_horizon_") && old != id.toString &&
          old.nonEmpty && old.forall(_.isDigit) && old.toLong < id)
        fs.delete(st.getPath, false)
      else if (nm.startsWith(bare) && !nm.startsWith(s"${sink}_horizon_")) {
        val tail = nm.stripPrefix(bare)
        if (tail.nonEmpty && tail.forall(_.isDigit) && tail.toLong <= id)
          fs.delete(st.getPath, false)
      }
    }
  }

  /** The sink's marker-GC horizon, -1 when none has ever been set.
    * O(listing of the live marker roster).
    */
  def horizon(spark: SparkSession, indexPath: String, sink: String): Long = {
    val batches = new Path(s"$indexPath/_batches")
    val fs = this.fs(spark, batches)
    if (!fs.exists(batches)) return -1L
    fs.listStatus(batches).foldLeft(-1L) { (acc, st) =>
      val tail = st.getPath.getName.stripPrefix(s"${sink}_horizon_")
      if (st.getPath.getName.startsWith(s"${sink}_horizon_") &&
          tail.nonEmpty && tail.forall(_.isDigit)) math.max(acc, tail.toLong)
      else acc
    }
  }

  /** [[landed]] extended across marker GC: a batch at or below the sink's
    * compaction horizon counts as landed (its rows live in the collapsed
    * dir; its marker was GC'd). Marker first — the O(1) steady-state —
    * then the horizon listing only on a miss.
    */
  def landedOrCollapsed(spark: SparkSession, indexPath: String, sink: String,
      batchId: Long): Boolean =
    landed(spark, indexPath, sink, batchId) ||
      batchId <= horizon(spark, indexPath, sink)

  /** Refuse to resume a sink written before the marker protocol: batches
    * that landed under the old dir-existence guard carry no markers, so
    * every one of them would replay as "never landed" and re-append
    * duplicates. Detection is O(1) steady-state: the glob only runs when
    * the sink has NO `_batches` directory at all (first contact), which
    * on a marker-era sink exists from its first batch onward.
    */
  private def assertMarkeredSink(spark: SparkSession, indexPath: String,
      dataGlob: String): Unit = {
    val batches = new Path(s"$indexPath/_batches")
    val fs = this.fs(spark, batches)
    if (!fs.exists(batches)) {
      val hits = fs.globStatus(new Path(dataGlob))
      if (hits != null && hits.nonEmpty)
        throw new IllegalStateException(
          s"$indexPath holds committed batches but no _batches markers — " +
            "written by a pre-marker version of this sink; replaying onto " +
            "it would duplicate every batch. Rebuild the sink (or create " +
            "markers for the landed batch ids) before resuming.")
    }
  }

  /** One monitor per sink root: every recovery, compaction and serving
    * read that recovers serializes on it, so concurrent readers can never
    * interleave the non-idempotent steps of one swap. CROSS-PROCESS
    * exclusion is the caller's contract, as for the append protocol
    * itself: one writer and one maintenance actor per root.
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[streaming] def locked[T](root: String)(body: => T): T =
    locks.computeIfAbsent(root, _ => new Object).synchronized(body)

  /** The `batch_id=` dirs directly under `dir`. */
  private[streaming] def batchDirs(spark: SparkSession, dir: String): IndexedSeq[FileStatus] = {
    val p = new Path(dir)
    val fs = this.fs(spark, p)
    if (!fs.exists(p)) IndexedSeq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
  }

  private def idOf(s: FileStatus): Long =
    s.getPath.getName.stripPrefix("batch_id=").toLong

  /** Collapse a compacting sink's landed batch dirs into ONE dir under the
    * highest landed id, holding `resolve(nFiles)` — the caller's
    * semantics-preserving fold of the whole table, written as `nFiles`
    * files sized from the table's on-disk bytes over `targetBytes` (never
    * a single funnel task). Caller holds [[locked]] on the sink's root and
    * has run [[recover]].
    *
    * Exactly-once survives through the MARKER HORIZON: per-batch markers
    * at or below the collapsed id are GC'd and replaced by one
    * `<sink>_horizon_<id>` file, which [[landedOrCollapsed]] answers
    * replays from — a replayed pre-compaction batch still short-circuits;
    * its rows are inside the collapsed dir. UNMARKERED batch dirs are
    * crashed partials of never-committed batches: they are cleared first,
    * never folded in — their batch replays in full, and a collapsed dir
    * staged under a marker-less id would be deleted wholesale by that
    * replay's partial-dir clearing. (The previous compaction's collapsed
    * dir has no marker of its own; the horizon covers it, so it is never
    * classed as debris.)
    *
    * Crash safety (no multi-dir rename is atomic): the collapsed dir is
    * staged under `staging` first, then an INTENT marker
    * `_batches/compact<sink>_<id>` commits the decision, then the old
    * batch dirs are deleted and the staged dir renamed in, the horizon
    * advances and the intent clears. [[recover]] rolls an interrupted
    * pass forward from the intent: before it exists the old dirs are
    * untouched (the pass simply re-runs); after it, the staged dir is the
    * truth. Caller contract: the writer is quiescent.
    */
  private[streaming] def collapse(spark: SparkSession, sink: Sink, targetBytes: Long)(
      resolve: Int => DataFrame): Unit = {
    val (landedDirs, debris) = batchDirs(spark, sink.dir).partition(s =>
      landedOrCollapsed(spark, sink.root, sink.name, idOf(s)))
    val fs = this.fs(spark, new Path(sink.dir))
    debris.foreach(s => fs.delete(s.getPath, true))
    if (landedDirs.size <= 1) return // already compact (or empty)
    val maxId = landedDirs.map(idOf).max
    val staging = sink.staging.get
    fs.delete(new Path(staging), true) // pre-intent leftovers of a dead pass
    val nBytes = landedDirs.flatMap(d => fs.listStatus(d.getPath).toIndexedSeq)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(nBytes.toDouble / targetBytes).toInt)
    resolve(nFiles).write.mode("overwrite").parquet(s"$staging/batch_id=$maxId")
    // COMMIT POINT: from here the staged dir is the sink's truth
    commit(spark, sink.root, s"compact${sink.name}", maxId)
    finishCollapse(spark, sink, maxId)
  }

  /** Roll forward every interrupted [[collapse]] of `sinks` from its
    * intent marker. No-op in O(1) listing when none exist.
    */
  private[streaming] def recover(spark: SparkSession, sinks: Seq[Sink]): Unit =
    sinks.groupBy(_.root).foreach { case (root, rootSinks) =>
      locked(root) { // reentrant under a compaction's hold
        val batches = new Path(s"$root/_batches")
        val fs = this.fs(spark, batches)
        if (fs.exists(batches)) {
          val names = fs.listStatus(batches).toIndexedSeq.map(_.getPath.getName)
          rootSinks.foreach { s =>
            val intent = s"compact${s.name}_"
            names.filter(_.startsWith(intent)).map(_.stripPrefix(intent).toLong)
              .sorted.foreach(finishCollapse(spark, s, _))
          }
        }
      }
    }

  private def finishCollapse(spark: SparkSession, sink: Sink,
      maxId: Long): Unit = {
    val staging = new Path(sink.staging.get)
    val fs = this.fs(spark, staging)
    val staged = new Path(staging, s"batch_id=$maxId")
    val dir = new Path(sink.dir)
    if (fs.exists(staged)) {
      // deletes are idempotent; the staged dir still holds the truth
      if (fs.exists(dir)) batchDirs(spark, sink.dir).foreach(s => fs.delete(s.getPath, true))
      else fs.mkdirs(dir)
      if (!fs.rename(staged, new Path(dir, s"batch_id=$maxId")))
        throw new IllegalStateException(
          s"compaction rename failed: $staged -> $dir/batch_id=$maxId")
    } // else: a previous attempt already swapped — only debris remains
    fs.delete(staging, true)
    val tmpRoot = new Path(s"${sink.root}/_compact_tmp")
    if (fs.exists(tmpRoot) && fs.listStatus(tmpRoot).isEmpty)
      fs.delete(tmpRoot, false)
    // marker GC below the horizon BEFORE the intent clears: a crash
    // between the two re-runs this roll-forward (advanceHorizon is
    // idempotent), so the roster can never be left half-GC'd for good
    advanceHorizon(spark, sink.root, sink.name, maxId)
    fs.delete(new Path(s"${sink.root}/_batches/compact${sink.name}_$maxId"), false)
  }
}
