package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class UpsertIngestSpec extends SparkSpec {
  import spark.implicits._

  private def latest(path: String) =
    UpsertIngest.readLatest(spark, path, "k")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("changelog resolve equals the copy-on-write merge across batches") {
    val dir = Files.createTempDirectory("upsertingest").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    val cp = dir.getAbsolutePath + "/cp"
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val updates = input.toDF().toDF("k", "v", "n")
    val q = UpsertIngest.start(updates, tbl, cp)
    try {
      input.addData((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      q.processAllAvailable()
      input.addData((2L, "B2", 2L), (4L, "d", 2L)) // update 2, insert 4
      q.processAllAvailable()
    } finally q.stop()
    assert(latest(tbl) === Map(
      1L -> ("a", 1L), 2L -> ("B2", 2L), 3L -> ("c", 1L), 4L -> ("d", 2L)))
    // equals the copy-on-write merge of the same two batches
    val merged = graft.sinks.Upsert.merged(
        Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "v", "n"),
        Seq((2L, "B2", 2L), (4L, "d", 2L)).toDF("k", "v", "n"), "k")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(latest(tbl) === merged)
  }

  test("replay is a no-op; a crashed append rewrites; empty batch advances") {
    val dir = Files.createTempDirectory("upsertreplay").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "n")
    val b1 = Seq((2L, "B2", 2L)).toDF("k", "v", "n")
    UpsertIngest.processBatch(b0, 0L, tbl)
    UpsertIngest.processBatch(b0, 0L, tbl) // marker short-circuits
    // crash window: batch 1's partition lands WITHOUT its marker
    b1.withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(s"$tbl/log")
    UpsertIngest.processBatch(b1, 1L, tbl) // deletes partial, rewrites
    UpsertIngest.processBatch(b1.limit(0), 2L, tbl) // empty: marker only
    assert(latest(tbl) === Map(1L -> ("a", 1L), 2L -> ("B2", 2L)))
    assert(BatchMarker.landed(spark, tbl, "log", 2L))
    // compaction story: merge the resolved view, start a fresh log
    val resolved = UpsertIngest.readLatest(spark, tbl, "k")
    val tbl2 = dir.getAbsolutePath + "/tbl2"
    UpsertIngest.processBatch(resolved, 0L, tbl2)
    assert(latest(tbl2) === latest(tbl))
  }

  test("compaction collapses depth and markers; replays short-circuit") {
    val dir = Files.createTempDirectory("upsertcompact").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    val b0 = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "v", "n")
    val b1 = Seq((2L, "B2", 2L), (4L, "d", 2L)).toDF("k", "v", "n")
    val b2 = Seq((1L, "A3", 3L)).toDF("k", "v", "n")
    UpsertIngest.processBatch(b0, 0L, tbl)
    UpsertIngest.processBatch(b1, 1L, tbl)
    UpsertIngest.processBatch(b2, 2L, tbl)
    val before = latest(tbl)
    assert(UpsertIngest.logStats(spark, tbl).nBatches === 3)
    assert(UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 0))
    val st = UpsertIngest.logStats(spark, tbl)
    assert(st.nBatches === 1 && st.maxBatchId === 2L) // depth collapsed
    assert(latest(tbl) === before) // resolve unchanged row-for-row
    // marker GC: the per-batch markers collapse into one horizon file —
    // the roster must not grow per micro-batch forever — and a replayed
    // old batch STILL short-circuits, answered by the horizon
    (0L to 2L).foreach(id => assert(!BatchMarker.landed(spark, tbl, "log", id),
      s"marker log_$id survived the GC"))
    assert(BatchMarker.horizon(spark, tbl, "log") === 2L)
    (0L to 2L).foreach(id =>
      assert(BatchMarker.landedOrCollapsed(spark, tbl, "log", id)))
    UpsertIngest.processBatch(b1, 1L, tbl)
    assert(latest(tbl) === before)
    assert(UpsertIngest.logStats(spark, tbl).nBatches === 1,
      "a pre-horizon replay re-appended into the collapsed log")
    // post-compaction batches keep winning on their higher ids
    UpsertIngest.processBatch(Seq((4L, "D4", 4L)).toDF("k", "v", "n"), 3L, tbl)
    assert(latest(tbl) === before + (4L -> ("D4", 4L)))
  }

  test("compaction never folds in an unmarkered crashed-partial batch") {
    // the fatal composition: writer crashes mid-append of batch 2 (dir
    // exists, no marker), a maintenance compaction runs, then the stream
    // restarts and redelivers batch 2 — whose clearPartial must NOT be
    // able to delete the compacted table
    val dir = Files.createTempDirectory("upsertdebris").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "n"), 0L, tbl)
    UpsertIngest.processBatch(Seq((2L, "B2", 2L)).toDF("k", "v", "n"), 1L, tbl)
    // crash window: batch 2's rows land WITHOUT a marker
    Seq((3L, "c", 3L)).toDF("k", "v", "n").withColumn("batch_id", lit(2L))
      .write.mode("append").partitionBy("batch_id").parquet(s"$tbl/log")
    assert(UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 0))
    val st = UpsertIngest.logStats(spark, tbl)
    // the resolved view sits under the highest MARKERED id (1), the
    // debris is gone, and key 3 is absent (its batch never committed)
    assert(st.nBatches === 1 && st.maxBatchId === 1L)
    assert(latest(tbl) === Map(1L -> ("a", 1L), 2L -> ("B2", 2L)))
    // the redelivered batch replays in full on top of the compacted log
    UpsertIngest.processBatch(Seq((3L, "c", 3L)).toDF("k", "v", "n"), 2L, tbl)
    assert(latest(tbl) === Map(
      1L -> ("a", 1L), 2L -> ("B2", 2L), 3L -> ("c", 3L)))
  }

  test("an interrupted compaction rolls forward from the intent marker") {
    val dir = Files.createTempDirectory("upsertcrash").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(Seq((1L, "a", 1L)).toDF("k", "v", "n"), 0L, tbl)
    UpsertIngest.processBatch(Seq((1L, "A1", 2L)).toDF("k", "v", "n"), 1L, tbl)
    // simulate the crash window: resolved view staged + intent committed,
    // but the swap (deletes + rename) never ran
    val staged = s"$tbl/_compact_tmp/batch_id=1"
    UpsertIngest.readLatest(spark, tbl, "k").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    BatchMarker.commit(spark, tbl, "compactlog", 1L)
    // the next serving read recovers: swap finished, intent cleared
    assert(latest(tbl) === Map(1L -> ("A1", 2L)))
    val st = UpsertIngest.logStats(spark, tbl)
    assert(st.nBatches === 1 && st.maxBatchId === 1L)
    assert(!new java.io.File(s"$tbl/_compact_tmp").exists())
    assert(!new java.io.File(s"$tbl/_batches/compactlog_1").exists())
    // and the crash window AFTER the rename (intent only) is also cleared
    BatchMarker.commit(spark, tbl, "compactlog", 1L)
    UpsertIngest.recoverCompaction(spark, tbl)
    assert(latest(tbl) === Map(1L -> ("A1", 2L)))
    assert(!new java.io.File(s"$tbl/_batches/compactlog_1").exists())
  }

  test("maybeCompact policy: idle under thresholds, fires above them") {
    val dir = Files.createTempDirectory("upsertpolicy").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    (0 to 3).foreach { i =>
      UpsertIngest.processBatch(
        Seq((i.toLong % 2, s"v$i", i.toLong)).toDF("k", "v", "n"), i.toLong, tbl)
    }
    val before = latest(tbl)
    assert(!UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 16))
    assert(UpsertIngest.logStats(spark, tbl).nBatches === 4) // untouched
    assert(UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 3))
    assert(UpsertIngest.logStats(spark, tbl).nBatches === 1)
    assert(latest(tbl) === before)
    // a single-batch log never compacts (nothing to pay back)
    assert(!UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 0,
      maxFiles = 0) || UpsertIngest.logStats(spark, tbl).nBatches === 1)
  }

  test("uniqueKey enforcement: a duplicate-key batch fails before landing") {
    val dir = Files.createTempDirectory("upsertuniq").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    val dup = Seq((1L, "x", 1L), (1L, "y", 1L)).toDF("k", "v", "n")
    val e = intercept[IllegalArgumentException] {
      UpsertIngest.processBatch(dup, 0L, tbl, uniqueKey = Some("k"))
    }
    assert(e.getMessage.contains("one-row-per-key") && e.getMessage.contains("1"))
    // nothing landed, no marker — the batch can be fixed and retried
    assert(!BatchMarker.landed(spark, tbl, "log", 0L))
    assert(UpsertIngest.logStats(spark, tbl).nBatches === 0)
    // a clean batch under the same flag passes
    UpsertIngest.processBatch(
      Seq((1L, "x", 1L), (2L, "y", 1L)).toDF("k", "v", "n"),
      0L, tbl, uniqueKey = Some("k"))
    assert(latest(tbl) === Map(1L -> ("x", 1L), 2L -> ("y", 1L)))
  }

  test("within-batch duplicate keys resolve deterministically, compaction-stable") {
    val dir = Files.createTempDirectory("upserttie").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    // contract violation on purpose: key 1 appears twice in batch 0 — the
    // resolve must pick the SAME row on every rerun and across compaction
    // (content-hash order), never file/task order
    val b0 = Seq((1L, "x", 1L), (1L, "y", 1L), (2L, "b", 1L)).toDF("k", "v", "n")
    UpsertIngest.processBatch(b0, 0L, tbl)
    val r1 = latest(tbl)
    val r2 = latest(tbl)
    assert(r1 === r2, "rerun changed the within-batch winner")
    UpsertIngest.processBatch(Seq((3L, "c", 2L)).toDF("k", "v", "n"), 1L, tbl)
    assert(UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 0))
    assert(latest(tbl) === r1 + (3L -> ("c", 2L)),
      "compaction changed the within-batch winner")
  }

  test("CDC soft delete: a tombstone row wins the key, serving read filters") {
    // deletes over a changelog are just upserts of a deleted=true row —
    // latest-batch-per-key makes the tombstone win, and the serving view
    // filters it; compaction of the FILTERED view drops deleted keys
    // from the fresh log entirely
    val dir = Files.createTempDirectory("upserttomb").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    val b0 = Seq((1L, "a", false), (2L, "b", false)).toDF("k", "v", "deleted")
    val b1 = Seq((2L, "b", true)).toDF("k", "v", "deleted") // tombstone for 2
    UpsertIngest.processBatch(b0, 0L, tbl)
    UpsertIngest.processBatch(b1, 1L, tbl)
    val serving = UpsertIngest.readLatest(spark, tbl, "k")
      .filter(!col("deleted"))
    assert(serving.select("k").as[Long].collect().toSet === Set(1L))
    // compact the filtered view: key 2 is gone from the fresh log
    val tbl2 = dir.getAbsolutePath + "/tbl2"
    UpsertIngest.processBatch(serving, 0L, tbl2)
    assert(spark.read.parquet(s"$tbl2/log").select("k").as[Long]
      .collect().toSet === Set(1L))
  }

  test("readAsOf time-travels to any landed batch; compaction is the " +
      "retention horizon") {
    val dir = Files.createTempDirectory("upsertasof").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "n"), 0L, tbl)
    UpsertIngest.processBatch(
      Seq((2L, "B2", 1L), (3L, "c", 1L)).toDF("k", "v", "n"), 1L, tbl)

    def asOf(b: Long) = UpsertIngest.readAsOf(spark, tbl, "k", b)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // as-of 0 = the pre-update state; as-of 1 = the latest resolve;
    // beyond the max landed id = the latest too (ids are monotone)
    assert(asOf(0L) === Map(1L -> "a", 2L -> "b"))
    assert(asOf(1L) === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
    assert(asOf(99L) === asOf(1L))
    assert(asOf(1L) === latest(tbl).map { case (k, (v, _)) => k -> v })
    // before the first batch: no surviving rows, empty state
    assert(asOf(-1L).isEmpty)

    // compaction collapses history into the highest id: older as-of
    // reads now see the EMPTY state, not a stale one — the lakehouse
    // cleaning contract
    assert(UpsertIngest.maybeCompact(spark, tbl, "k", maxBatches = 0))
    assert(asOf(1L) === Map(1L -> "a", 2L -> "B2", 3L -> "c"),
      "post-compaction as-of at the horizon must equal the resolved view")
    assert(asOf(0L).isEmpty,
      "pre-horizon as-of must be empty after compaction, never stale")
  }

  test("schema evolution: a batch adding a column resolves with NULLs " +
      "for pre-evolution rows, not a silently dropped column") {
    val dir = Files.createTempDirectory("upsertevolve").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L, tbl)
    // batch 1 carries a NEW column
    UpsertIngest.processBatch(
      Seq((2L, "B2", "extra")).toDF("k", "v", "tag"), 1L, tbl)

    val rows = UpsertIngest.readLatest(spark, tbl, "k")
      .select("k", "v", "tag") // throws if the evolved column was dropped
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2))).toMap
    assert(rows === Map(1L -> ("a", null), 2L -> ("B2", "extra")))
    // time travel across the evolution boundary keeps the merged schema
    val asOf0 = UpsertIngest.readAsOf(spark, tbl, "k", 0L)
    assert(asOf0.columns.contains("tag"))
    assert(asOf0.collect().map(_.getAs[Any]("tag")).forall(_ == null))
  }

  test("readChanges yields exactly the per-key delta between versions") {
    val dir = Files.createTempDirectory("upsertchanges").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "n"), 0L, tbl)
    UpsertIngest.processBatch(
      Seq((2L, "B2", 1L), (3L, "c", 1L)).toDF("k", "v", "n"), 1L, tbl)
    UpsertIngest.processBatch(
      Seq((1L, "A3", 2L)).toDF("k", "v", "n"), 2L, tbl)

    def changes(from: Long, to: Long) =
      UpsertIngest.readChanges(spark, tbl, "k", from, to)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 0→1: key 2 updated, key 3 inserted, key 1 untouched (absent)
    assert(changes(0L, 1L) === Map(2L -> "B2", 3L -> "c"))
    // 1→2: only key 1's update
    assert(changes(1L, 2L) === Map(1L -> "A3"))
    // 0→2: the transitive delta; intermediate version of key 1 invisible
    assert(changes(0L, 2L) === Map(1L -> "A3", 2L -> "B2", 3L -> "c"))
    // identical endpoints: empty
    assert(changes(2L, 2L).isEmpty)
    intercept[IllegalArgumentException] {
      UpsertIngest.readChanges(spark, tbl, "k", 2L, 1L)
    }
  }

  test("readChangeFeed: insert / update pre+post images per changed key; " +
      "identical re-upserts are silent") {
    val dir = Files.createTempDirectory("upsertcdc").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    UpsertIngest.processBatch(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L, tbl)
    // key 2 updated, key 3 inserted, key 1 re-upserted to IDENTICAL values
    UpsertIngest.processBatch(
      Seq((1L, "a"), (2L, "B2"), (3L, "c")).toDF("k", "v"), 1L, tbl)
    val feed = UpsertIngest.readChangeFeed(spark, tbl, "k", 0L, 1L)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    assert(feed === Set(
      ("insert", 3L, "c"),
      ("update_postimage", 2L, "B2"),
      ("update_preimage", 2L, "b"))) // key 1: no change rows at all
    // the feed supports aggregate maintenance by retraction: applying it
    // to the as-of(0) state reproduces as-of(1) exactly
    val asOf1 = UpsertIngest.readAsOf(spark, tbl, "k", 1L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val maintained = UpsertIngest.readAsOf(spark, tbl, "k", 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (pres, posts) = feed.partition(_._1 == "update_preimage")
    val applied = posts.foldLeft(maintained -- pres.map(_._2)) {
      case (m, (_, k, v)) => m + (k -> v)
    }
    assert(applied === asOf1)

    // the endpoint resolve the feed materializes keeps the delta shape:
    // batch-pruned log scans behind a touched-key semi-join
    val (_, post) = UpsertIngest.deltaEndpoints(spark, tbl, "k", 0L, 1L)
    val ep = post.queryExecution.executedPlan.toString()
    assert(ep.contains("LeftSemi"), s"endpoint lost the semi-join:\n$ep")
    val logScans = ep.linesIterator
      .filter(l => l.contains("/log") && l.contains("PartitionFilters"))
      .toList
    assert(logScans.nonEmpty && logScans.forall(l =>
        l.contains("batch_id") && !l.contains("PartitionFilters: []")),
      s"endpoint log scan lost its batch_id filter:\n${logScans.mkString("\n")}")
  }

  test("readChanges is delta-shaped: a 1-key update among many resolves " +
      "only the touched key, behind a batch-pruned semi-join") {
    val dir = Files.createTempDirectory("upsertdelta").toFile
    dir.deleteOnExit()
    val tbl = dir.getAbsolutePath + "/tbl"
    // 500 keys in the base batch, ONE key touched in the delta batch
    UpsertIngest.processBatch(
      spark.range(500).selectExpr("id AS k", "concat('v', id) AS v"), 0L, tbl)
    UpsertIngest.processBatch(
      Seq((42L, "UPDATED")).toDF("k", "v"), 1L, tbl)

    val changes = UpsertIngest.readChanges(spark, tbl, "k", 0L, 1L)
    val rows = changes.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.toSeq === Seq(42L -> "UPDATED"),
      "delta must be exactly the touched key")

    // plan shape: the log is narrowed by a semi-join on the touched keys
    // (never fully resolved), and every log scan carries a batch_id
    // partition filter — the O(2 × table) snapshot diff is gone
    val p = changes.queryExecution.executedPlan.toString()
    assert(p.contains("LeftSemi"), s"no touched-key semi-join in plan:\n$p")
    val logScans = p.linesIterator
      .filter(l => l.contains("/log") && l.contains("PartitionFilters"))
      .toList
    assert(logScans.nonEmpty, s"no partitioned log scan in plan:\n$p")
    assert(logScans.forall(l =>
        l.contains("batch_id") && !l.contains("PartitionFilters: []")),
      s"a log scan is missing its batch_id partition filter:\n" +
        logScans.mkString("\n"))
  }
}
