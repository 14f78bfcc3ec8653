package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, Multimodal}

class BatchMarkerSpec extends SparkSpec {
  import spark.implicits._

  test("a marker-less sink holding committed batches is refused; fresh and marker-era sinks pass") {
    val dir = Files.createTempDirectory("bmguard").toFile
    dir.deleteOnExit()
    val corpus = dir.getAbsolutePath + "/corpus"
    val digest = dir.getAbsolutePath + "/digest"
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")

    // fresh sinks: first batch passes and stamps markers
    IngestWithDigest.processBatch(docs, 0L, corpus, digest)
    assert(new java.io.File(s"$corpus/_batches/corpus_0").exists())
    assert(new java.io.File(s"$digest/_batches/digest_0").exists())

    // marker-era sink: later batches pass
    IngestWithDigest.processBatch(
      Seq((3L, "gamma")).toDF("doc_id", "text"), 1L, corpus, digest)
    assert(spark.read.parquet(corpus).count() === 3)

    // legacy sink: committed batch dirs, no _batches → refuse, don't
    // silently replay every batch as never-landed
    val legacy = dir.getAbsolutePath + "/legacy"
    Seq((9L, "old")).toDF("doc_id", "text")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.partitionBy("batch_id").parquet(legacy)
    val e = intercept[IllegalStateException](
      IngestWithDigest.processBatch(docs, 1L, legacy, digest))
    assert(e.getMessage.contains("_batches"))
  }

  test("a first batch crashing between append and marker replays, not wedges") {
    val dir = Files.createTempDirectory("bmfirst").toFile
    dir.deleteOnExit()
    val corpus = dir.getAbsolutePath + "/corpus"
    val digest = dir.getAbsolutePath + "/digest"
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")

    // simulate the crash window: the protocol dir exists (created before
    // any append), the corpus batch dir landed, but no marker was written
    BatchMarker.ensureProtocol(spark, corpus)
    docs.withColumn("batch_id", org.apache.spark.sql.functions.lit(0L))
      .write.mode("append").partitionBy("batch_id").parquet(corpus)

    // the replay must repair (delete + rewrite), NOT throw the legacy
    // guard and NOT duplicate
    IngestWithDigest.processBatch(docs, 0L, corpus, digest)
    assert(spark.read.parquet(corpus).filter("batch_id = 0").count() === 2)
    assert(new java.io.File(s"$corpus/_batches/corpus_0").exists())
  }

  private def linkPages(uri: String, status: Int, hrefs: String*): DataFrame = {
    val body = hrefs.map(h => s"""<a href="$h"></a>""").mkString
    Seq((uri, status, s"<html><body>$body</body></html>".getBytes("US-ASCII")))
      .toDF("uri", "http_status", "body")
  }

  private def phashMedia(ids: Seq[Long]): DataFrame =
    Multimodal.synthesizePhashImages(ids.toDF("doc_id"))

  private def phashPairs(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** One sentinel-bearing sink: its `has_data` path under a fresh root,
    * the ingest of batch 0 or 1 into that root, and what must hold once
    * batch 1 has read against batch 0's history.
    */
  private case class SentinelCase(sentinel: String => String,
      land: (String, Long) => Unit, readsHistory: String => Unit)

  private val phashEven = (0L until 16L).filter(_ % 2 == 0)
  private val phashOdd = (0L until 16L).filter(_ % 2 == 1)
  private val phashCase = (table: String) => SentinelCase(
    root => s"$root/$table/_batches_has_data",
    (root, id) => PhashIngest.processBatch(
      phashMedia(if (id == 0L) phashEven else phashOdd), id, root),
    root => {
      // families of 4 straddle the split: batch 1 pairs with batch 0's
      // signatures, and the read covers batch 0's pairs
      val sigs = Multimodal.imageDHash(phashMedia(phashEven ++ phashOdd)).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      val want = phashPairs(Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4))
      assert(want.nonEmpty)
      assert(phashPairs(PhashIngest.readPairs(spark, root)) === want)
    })
  private val linkCase = (table: String) => SentinelCase(
    root => s"$root/$table/_batches_has_data",
    (root, id) => LinkIngest.processBatch(
      if (id == 0L) linkPages("https://h0.ex.test/d/1", 200, "https://h0.ex.test/d/2")
      else linkPages("https://h0.ex.test/d/2", 404), id, root),
    root => {
      // batch 0's pair resolves against batch 1's url
      val edges = LinkIngest.edges(spark, root,
          nodeOf = u => regexp_extract(u, "/d/(\\d+)", 1).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(edges === Set(1L -> 2L))
    })

  private val sentinelCases = Seq(
    "digest" -> SentinelCase(
      root => s"$root/digest/_batches/has_data",
      (root, id) => IngestWithDigest.processBatch(
        (if (id == 0L) Seq((1L, "alpha")) else Seq((9L, "alpha")))
          .toDF("doc_id", "text"), id, s"$root/corpus", s"$root/digest"),
      root => assert(spark.read.parquet(s"$root/corpus").count() === 1)), // dup never ingested
    "warc log" -> SentinelCase(
      root => s"$root/log/_batches/has_data",
      (root, id) => WarcIngest.processBatch(
        Seq((id + 1, "u/a", 5L, s"m$id"))
          .toDF("doc_id", "url", "n_tokens", "text_md5"), id, s"$root/log"),
      root => {
        // batch 1's alias of the claimed url never lands
        assert(spark.read.parquet(s"$root/log").count() === 1)
        assert(WarcIngest.kept(spark, s"$root/log").count() === 1)
      }),
    "phash sigs" -> phashCase("sigs"),
    "phash pairs" -> phashCase("pairs"),
    "link urls" -> linkCase("urls"),
    "link pairs" -> linkCase("pairs"))

  sentinelCases.foreach { case (name, c) =>
    test(s"the $name marker->sentinel crash window self-repairs on replay") {
      val dir = Files.createTempDirectory("bmsent").toFile
      dir.deleteOnExit()
      val root = dir.getAbsolutePath
      c.land(root, 0L)
      val sentinel = new java.io.File(c.sentinel(root))
      assert(sentinel.exists())
      // simulate the crash: marker committed, sentinel lost
      assert(sentinel.delete())
      c.land(root, 0L) // replay
      assert(sentinel.exists(), "replay did not restore the has_data sentinel")
      // and the next batch reads against history
      c.land(root, 1L)
      c.readsHistory(root)
    }
  }

  /** Every file under `root` with its size — a replay that changes
    * nothing leaves this unchanged.
    */
  private def tree(root: String): Set[(String, Long)] = {
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toSet
    finally walk.close()
  }

  /** The bodies with no empty-batch branch: an empty first micro-batch
    * runs the body on no rows. The ingest of one batch id into a root,
    * and the reads that must not see the empty batch.
    */
  private val bm25Docs = Seq((1L, "apple banana cherry apple"),
    (2L, "apple banana banana banana"))
  private val bm25Queries = Seq((100L, "apple cherry")).toDF("query_id", "qtext")
  private val emptyBatchCases = Seq[(String, (String, Long, Boolean) => Unit, String => Set[Seq[Any]])](
    ("IndexIngest.processBatch",
      (root, id, empty) => IndexIngest.processBatch(
        (if (empty) Nil else bm25Docs).toDF("doc_id", "text"), id, root),
      root => IndexIngest.bm25TopK(spark, root, bm25Queries, k = 10)
        .collect().map(_.toSeq).toSet),
    ("IndexIngest.processBatchPartitioned",
      (root, id, empty) => IndexIngest.processBatchPartitioned(
        (if (empty) Nil else bm25Docs).toDF("doc_id", "text"), id, root,
        nBuckets = 4),
      root => IndexIngest.bm25TopKPruned(spark, root, bm25Queries, k = 10)
        .collect().map(_.toSeq).toSet),
    ("IngestWithDigest",
      (root, id, empty) => IngestWithDigest.processBatch(
        (if (empty) Nil else Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta")))
          .toDF("doc_id", "text"), id, s"$root/corpus", s"$root/digest"),
      root => spark.read.parquet(s"$root/corpus").collect().map(_.toSeq).toSet),
    ("WarcIngest",
      (root, id, empty) => WarcIngest.processBatch(
        (if (empty) Nil else Seq((1L, "u/a", 5L, "m1"), (2L, "u/a", 5L, "m2"),
          (3L, "u/b", 1L, "m3"))).toDF("doc_id", "url", "n_tokens", "text_md5"),
        id, s"$root/log"),
      root => WarcIngest.kept(spark, s"$root/log").collect().map(_.toSeq).toSet))

  emptyBatchCases.foreach { case (name, land, reads) =>
    test(s"$name: an empty first micro-batch leaves the reads of the data " +
        "batch alone, and its replay is a no-op") {
      val dir = Files.createTempDirectory("bmempty").toFile
      dir.deleteOnExit()
      val alone = dir.getAbsolutePath + "/alone"
      val withEmpty = dir.getAbsolutePath + "/with_empty"
      land(alone, 1L, false)
      land(withEmpty, 0L, true)
      land(withEmpty, 1L, false)
      val want = reads(alone)
      assert(want.nonEmpty)
      assert(reads(withEmpty) === want)
      val before = tree(withEmpty)
      land(withEmpty, 0L, true) // replay of the landed empty batch
      assert(tree(withEmpty) === before)
      assert(reads(withEmpty) === want)
    }
  }

  test("null-text docs dedup consistently within and across batches") {
    val dir = Files.createTempDirectory("bmnull").toFile
    dir.deleteOnExit()
    val corpus = dir.getAbsolutePath + "/corpus"
    val digest = dir.getAbsolutePath + "/digest"
    IngestWithDigest.processBatch(
      Seq((1L, null), (2L, null), (3L, "real")).toDF("doc_id", "text"),
      0L, corpus, digest)
    // intra-batch: the two no-content docs collapse to the smallest id
    assert(spark.read.parquet(corpus).count() === 2)
    // cross-batch: a later no-content doc is deduped against history too
    IngestWithDigest.processBatch(
      Seq((9L, null)).toDF("doc_id", "text"), 1L, corpus, digest)
    assert(spark.read.parquet(corpus).count() === 2)
  }
}
