package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class VectorIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 4-d vectors; ids are the dedup keys of the ANN world. */
  private def vec(id: Long): Seq[Double] = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 17)
    Seq.fill(4)(rnd.nextGaussian())
  }
  private val batch1 = (0L until 12L).map(i => (i, vec(i)))
  private val batch2 = (12L until 24L).map(i => (i, vec(i)))
  private def union = (batch1 ++ batch2).toDF("vec_id", "embedding")
  private def queries = union.filter(col("vec_id") < 3)

  test("streamed IVF accumulates batches; probing all cells is exact") {
    val dir = Files.createTempDirectory("vecingest").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/index"
    val cp = dir.getAbsolutePath + "/cp"

    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val vecs = input.toDF().toDF("vec_id", "embedding")

    val q = VectorIngest.start(vecs, idx, cp, nCells = 4)
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      // searchable mid-stream over what has arrived so far
      assert(VectorIndex.read(spark, idx).search(queries, k = 3,
        nProbe = 4).count() > 0)
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // nProbe = nCells probes every cell → exact: equals brute force over
    // the accumulated corpus regardless of where the centroids landed
    val streamed = VectorIndex.read(spark, idx).search(queries,
      k = 3, nProbe = 4).collect().map(_.toSeq).toSet
    val brute = Similarity.bruteForceTopK(union, queries, k = 3)
      .collect().map(_.toSeq).toSet
    assert(streamed === brute)
  }

  test("replay is a no-op; later batches reuse the first batch's centroids") {
    val dir = Files.createTempDirectory("vecreplay").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/index"

    VectorIngest.processBatch(batch1.toDF("vec_id", "embedding"), 0L, idx,
      nCells = 4)
    val centroids0 = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toSeq).toSeq
    assert(centroids0.size === 4)
    val rows0 = spark.read.parquet(s"$idx/vectors").count()

    // full replay of a landed batch: no duplicate vectors
    VectorIngest.processBatch(batch1.toDF("vec_id", "embedding"), 0L, idx,
      nCells = 4)
    assert(spark.read.parquet(s"$idx/vectors").count() === rows0)

    // a later batch with a DIFFERENT nCells parameter must not re-fit:
    // the centroids table is the index's self-describing meta
    VectorIngest.processBatch(batch2.toDF("vec_id", "embedding"), 1L, idx,
      nCells = 7)
    val centroids1 = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toSeq).toSeq
    assert(centroids1 === centroids0)
    assert(spark.read.parquet(s"$idx/vectors").count() === rows0 + batch2.size)

    // every vector present exactly once across the two batches
    assert(spark.read.parquet(s"$idx/vectors").select("vec_id").distinct()
      .count() === (batch1.size + batch2.size).toLong)
  }

  test("a partial mid-commit crash is repaired, not mistaken for a landed batch") {
    val dir = Files.createTempDirectory("veccrash").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/index"
    VectorIngest.processBatch(batch1.toDF("vec_id", "embedding"), 0L, idx,
      nCells = 4)

    // simulate a committer crash mid-batch-1: ONE cell dir landed, no
    // marker — the old dir-glob guard would have skipped the replay
    val partial = new java.io.File(s"$idx/vectors/cell=0/batch_id=1")
    assert(partial.mkdirs())
    val junk = new java.io.File(partial, "part-junk.parquet")
    assert(junk.createNewFile())

    VectorIngest.processBatch(batch2.toDF("vec_id", "embedding"), 1L, idx,
      nCells = 4)
    // the junk partial was deleted and the batch fully rewritten
    assert(!junk.exists())
    assert(spark.read.parquet(s"$idx/vectors").select("vec_id").distinct()
      .count() === (batch1.size + batch2.size).toLong)

    // an empty batch commits its marker without touching the quantizer
    VectorIngest.processBatch(
      batch1.toDF("vec_id", "embedding").filter(col("vec_id") < -1), 2L, idx,
      nCells = 4)
    assert(spark.read.parquet(s"$idx/centroids").count() === 4)
    assert(spark.read.parquet(s"$idx/vectors").count() ===
      (batch1.size + batch2.size).toLong)
  }

  test("a first batch smaller than nCells clamps k instead of failing the fit") {
    val dir = Files.createTempDirectory("vectiny").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/index"
    // 2 vectors, nCells = 4 → the quantizer must fit with k = 2
    VectorIngest.processBatch(batch1.take(2).toDF("vec_id", "embedding"),
      0L, idx, nCells = 4)
    assert(spark.read.parquet(s"$idx/centroids").count() === 2)
    // a later, larger batch stays consistent with the stamped cell count
    VectorIngest.processBatch(batch2.toDF("vec_id", "embedding"), 1L, idx,
      nCells = 4)
    assert(spark.read.parquet(s"$idx/vectors").select("cell").distinct()
      .count() <= 2)
    val res = VectorIndex.read(spark, idx).search(
      batch1.take(2).toDF("vec_id", "embedding"), k = 3, nProbe = 2)
    assert(res.count() > 0)
  }

  test("pruned search carries a cell PartitionFilter; per-cell compaction keeps it") {
    val dir = Files.createTempDirectory("vecprune").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/index"
    VectorIngest.processBatch(batch1.toDF("vec_id", "embedding"), 0L, idx,
      nCells = 4)
    VectorIngest.processBatch(batch2.toDF("vec_id", "embedding"), 1L, idx,
      nCells = 4)

    def scanLine(path: String): String = {
      val p = VectorIndex.read(spark, path).search(queries, k = 3,
        nProbe = 1).queryExecution.executedPlan.toString
      p.linesIterator
        .find(l => l.contains("vectors") && l.contains("PartitionFilters"))
        .getOrElse(fail(s"no partitioned vectors scan in the plan:\n$p"))
    }
    val line = scanLine(idx)
    assert(line.contains("cell") && !line.contains("PartitionFilters: []"),
      s"vectors scan has no cell partition filter:\n$line")
    val before = VectorIndex.read(spark, idx).search(queries,
      k = 3, nProbe = 1).collect().map(_.toSeq).toSet

    // compact the per-batch files per leaf dir into a sibling index:
    // layout — and the pruned reader — intact, results identical
    val idx2 = dir.getAbsolutePath + "/compacted"
    graft.sinks.Compaction.compactPartitions(spark, s"$idx/vectors",
      s"$idx2/vectors", targetBytes = 64L * 1024 * 1024)
    spark.read.parquet(s"$idx/centroids").coalesce(1)
      .write.parquet(s"$idx2/centroids")
    val lineAfter = scanLine(idx2)
    assert(lineAfter.contains("cell") &&
      !lineAfter.contains("PartitionFilters: []"))
    val after = VectorIndex.read(spark, idx2).search(queries,
      k = 3, nProbe = 1).collect().map(_.toSeq).toSet
    assert(after === before)
  }
}
