package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LinkIngest: map-side pair/URL accumulation with read-time resolution —
  * late targets resolve retroactively, landed batches replay as no-ops,
  * crashed appends rewrite row-identically, and the pre-data read is an
  * empty typed frame.
  */
class LinkIngestSpec extends SparkSpec {

  import spark.implicits._

  /** A parsed-page frame (the Warc.httpParsed shape) with one 200 page
    * per (uri, hrefs) pair.
    */
  private def pages(rows: Seq[(String, Seq[String])]): DataFrame =
    rows.map { case (uri, hs) =>
      val body = s"<html><body>${hs.map(h => s"""<a href="$h"></a>""").mkString}</body></html>"
      (uri, 200, body.getBytes("US-ASCII"))
    }.toDF("uri", "http_status", "body")

  private def edgeSet(path: String): Set[(Long, Long)] =
    LinkIngest.edges(spark, path,
        nodeOf = u => regexp_extract(u, "/d/(\\d+)", 1).cast("long"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("read-time resolution: a link captured before its target is " +
      "discovered resolves only once a later segment lands it") {
    val dir = Files.createTempDirectory("linkingest").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/links"
    // batch 0: page /d/1 links to /d/2 (undiscovered) and /d/1 (self)
    LinkIngest.processBatch(pages(Seq(
      "https://h0.ex.test/d/1" -> Seq(
        "HTTPS://H0.EX.TEST:443/d/2#frag", // messy: must canonicalize
        "https://h0.ex.test/d/1"))), 0L, idx)
    assert(edgeSet(idx) === Set(1L -> 1L), "undiscovered target must stay unresolved")
    // batch 1: /d/2 is fetched (a 404 — dead pages still resolve links)
    LinkIngest.processBatch(
      Seq(("https://h0.ex.test/d/2", 404, Array.empty[Byte]))
        .toDF("uri", "http_status", "body"), 1L, idx)
    assert(edgeSet(idx) === Set(1L -> 1L, 1L -> 2L),
      "the batch-0 pair must resolve retroactively")
  }

  test("replay of a landed batch is a no-op; a crashed append rewrites " +
      "row-identically") {
    val dir = Files.createTempDirectory("linkreplay").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/links"
    val b0 = pages(Seq("https://h0.ex.test/d/1" -> Seq("https://h0.ex.test/d/3")))
    val b1 = pages(Seq("https://h0.ex.test/d/3" -> Seq("https://h0.ex.test/d/1")))
    LinkIngest.processBatch(b0, 0L, idx)
    LinkIngest.processBatch(b1, 1L, idx)
    val before = edgeSet(idx)
    assert(before === Set(1L -> 3L, 3L -> 1L))
    // full replay: no duplicate rows land (pairs table row count stable)
    val nPairs = spark.read.parquet(s"$idx/pairs").count()
    LinkIngest.processBatch(b1, 1L, idx)
    assert(spark.read.parquet(s"$idx/pairs").count() === nPairs)
    assert(edgeSet(idx) === before)
    // crash between append and marker: delete batch 1's PAIRS marker —
    // replay must clear the partial dir and rewrite identically
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_batches/pairs_1"), false)
    LinkIngest.processBatch(b1, 1L, idx)
    assert(edgeSet(idx) === before)
    assert(spark.read.parquet(s"$idx/pairs").count() === nPairs)
  }

  test("compaction collapses each table to one distinct-rows dir; edges " +
      "identical; pre-compaction replays stay no-ops; horizon honored") {
    val dir = Files.createTempDirectory("linkcompact").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/links"
    val b0 = pages(Seq("https://h0.ex.test/d/1" -> Seq("https://h0.ex.test/d/3")))
    val b1 = pages(Seq("https://h0.ex.test/d/3" -> Seq("https://h0.ex.test/d/1")))
    val b2 = pages(Seq("https://h0.ex.test/d/5" -> Seq(
      "https://h0.ex.test/d/1", "https://h0.ex.test/d/3")))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      LinkIngest.processBatch(b, i.toLong, idx)
    }
    val before = edgeSet(idx)
    assert(LinkIngest.nBatches(spark, idx, "pairs") === 3)
    // under the threshold: no-op
    assert(!LinkIngest.maybeCompact(spark, idx, maxBatches = 16))
    // over it: both tables collapse, edges unchanged
    assert(LinkIngest.maybeCompact(spark, idx, maxBatches = 2))
    assert(LinkIngest.nBatches(spark, idx, "pairs") === 1)
    assert(LinkIngest.nBatches(spark, idx, "urls") === 1)
    assert(edgeSet(idx) === before)
    // marker GC: the per-batch markers below the horizon are gone,
    // replaced by one horizon file per table
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("pairs", "urls").foreach { t =>
      (0 to 2).foreach { i =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_batches/${t}_$i")),
          s"marker ${t}_$i survived the GC")
      }
      assert(BatchMarker.horizon(spark, idx, t) === 2L)
    }
    // a pre-compaction batch STILL replays as a no-op — answered by the
    // horizon now that its marker is GC'd
    LinkIngest.processBatch(b0, 0L, idx)
    assert(LinkIngest.nBatches(spark, idx, "pairs") === 1)
    assert(edgeSet(idx) === before)
    // history collapsed into the highest id: an older as-of read sees
    // the EMPTY state, never a stale one (the compaction horizon)
    assert(LinkIngest.edges(spark, idx, upToBatch = Some(1L)).isEmpty)
    // ingest continues on top of the collapsed index
    LinkIngest.processBatch(
      pages(Seq("https://h0.ex.test/d/7" -> Seq("https://h0.ex.test/d/5"))),
      3L, idx)
    assert(edgeSet(idx) === before + (7L -> 5L))
  }

  test("compaction output is sized from on-disk bytes — a large log " +
      "collapses into MULTIPLE files, never one funnel task") {
    val dir = Files.createTempDirectory("linksize").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/links"
    // 3 batches × 40 pages × 8 links — enough parquet bytes that a tiny
    // targetBytes forces nOut > 1
    (0 to 2).foreach { b =>
      LinkIngest.processBatch(pages((0 until 40).map { i =>
        val d = b * 40 + i
        s"https://h0.ex.test/d/$d" ->
          (0 until 8).map(j => s"https://h0.ex.test/d/${(d * 7 + j) % 120}")
      }), b.toLong, idx)
    }
    val before = edgeSet(idx)
    LinkIngest.compact(spark, idx, targetBytes = 2048L)
    assert(LinkIngest.nBatches(spark, idx, "pairs") === 1)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val collapsed = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$idx/pairs/batch_id=*/part-*.parquet"))
    assert(collapsed.length > 1,
      s"compaction funneled ${collapsed.length} file(s) — coalesce(1) is back")
    assert(edgeSet(idx) === before)
  }

  test("a crash between the compaction intent and the swap rolls forward " +
      "on the next entry (no lost appends, no double rows)") {
    val dir = Files.createTempDirectory("linkcrash").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/links"
    (0 to 2).foreach { i =>
      LinkIngest.processBatch(pages(Seq(
        s"https://h0.ex.test/d/$i" -> Seq("https://h0.ex.test/d/0"))), i.toLong, idx)
    }
    val before = edgeSet(idx)
    // simulate the crash window: stage + intent exist, swap never ran —
    // reproduce compactTable's steps by hand
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    spark.read.parquet(s"$idx/pairs").drop("batch_id").distinct().coalesce(1)
      .write.parquet(s"$idx/_compact_tmp/pairs/batch_id=2")
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/_batches/compactpairs_2"),
      true).close()
    // the next APPEND must roll the swap forward before landing batch 3
    LinkIngest.processBatch(pages(Seq(
      "https://h0.ex.test/d/9" -> Seq("https://h0.ex.test/d/0"))), 3L, idx)
    assert(LinkIngest.nBatches(spark, idx, "pairs") === 2) // collapsed + b3
    assert(edgeSet(idx) === before + (9L -> 0L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_compact_tmp")))
  }

  test("start(): a real binaryFile stream of arriving segments drives the " +
      "accumulation; restart resumes and new targets resolve old pairs") {
    import graft.sources.Warc
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("link_stream").toString
    val in = s"$root/in"; val idx = s"$root/links"; val cp = s"$root/cp"
    new java.io.File(in).mkdirs()
    def ids(a: Long, b: Long) = spark.range(a, b).select($"id".as("doc_id"))

    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    def run(): Unit = {
      val recs = spark.readStream.format("binaryFile")
        .schema(binSchema).option("pathGlobFilter", "*.warc*").load(in)
        .select($"path", $"content").as[(String, Array[Byte])]
        .flatMap { case (p, c) => Warc.parseAll(p, c) }
      val pages = Warc.httpParsed(recs.filter($"warc_type" === "response").toDF())
        .select("uri", "http_status", "body")
      val q = LinkIngest.start(pages, idx, cp)
      try q.processAllAvailable() finally q.stop()
    }
    // segment 0: docs 0-9 with planted anchors into the FULL 0-19 space —
    // forward links to the undiscovered second segment stay unresolved
    Warc.synthesizeFiles(spark, ids(0, 10), "doc_id", in, nFiles = 1,
      linkSpace = 20L)
    run()
    val e0 = edgeSet(idx)
    assert(e0.nonEmpty)
    assert(e0.forall { case (s0, d0) => s0 < 10 && d0 < 10 },
      s"a link to the undiscovered segment resolved early: $e0")

    // segment 1 arrives while the stream is down; restart resumes from
    // the checkpoint, and the new URLs retroactively resolve segment-0
    // pairs that pointed into it
    val tmpSeg = Files.createTempDirectory("link_seg1").toString
    Warc.synthesizeFiles(spark, ids(10, 20), "doc_id", tmpSeg, nFiles = 1,
      linkSpace = 20L)
    Files.move(java.nio.file.Paths.get(s"$tmpSeg/part-00000.warc.gz"),
      java.nio.file.Paths.get(s"$in/part-00001.warc.gz"))
    run()
    val e1 = edgeSet(idx)
    assert(e0.subsetOf(e1))
    assert(e1.exists { case (s0, d0) => s0 < 10 && d0 >= 10 },
      s"segment-0 pairs into segment 1 did not resolve retroactively: $e1")
    // a third restart with nothing new is a pure no-op
    run()
    assert(edgeSet(idx) === e1)
  }

  test("edges() before any data-bearing batch is an empty typed frame") {
    val dir = Files.createTempDirectory("linkempty").toFile
    dir.deleteOnExit()
    val e = LinkIngest.edges(spark, dir.getAbsolutePath + "/links")
    assert(e.columns.toSeq === Seq("src", "dst"))
    assert(e.isEmpty)
  }
}
