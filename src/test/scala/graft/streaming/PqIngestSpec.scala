package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.VectorIndex
import graft.operators.VectorIndex.IvfPq
import org.apache.spark.sql.functions._

class PqIngestSpec extends SparkSpec {
  import spark.implicits._

  private def vec(id: Long): Seq[Double] = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 29)
    Seq.fill(8)(rnd.nextGaussian())
  }
  private val all = (0L until 24L).map(i => (i, vec(i)))
  private def corpus = all.toDF("vec_id", "embedding")
  private def batchA = all.filter(_._1 % 2 == 0).toDF("vec_id", "embedding")
  private def batchB = all.filter(_._1 % 2 == 1).toDF("vec_id", "embedding")
  private def queries = corpus.filter(col("vec_id") < 3)

  test("bootstrap + streamed batches reproduce the batch-built package exactly") {
    val dir = Files.createTempDirectory("pqingest").toFile
    dir.deleteOnExit()
    val flat = dir.getAbsolutePath + "/flat"
    val streamed = dir.getAbsolutePath + "/streamed"

    VectorIndex.fit(corpus, IvfPq(nCells = 2, m = 2, ksub = 4))
      .write(corpus, flat, partitioned = true)
    PqIngest.bootstrap(corpus, streamed, nCells = 2, m = 2, ksub = 4)
    PqIngest.processBatch(batchA, 0L, streamed)
    PqIngest.processBatch(batchB, 1L, streamed)

    // the meta fits are seeded over the same snapshot → identical tables,
    // and the shared assignment/encoding kernels → identical codes
    def codes(p: String) = spark.read.parquet(s"$p/codes")
      .select("neighbor_id", "cell", "code_0", "code_1")
      .collect().map(_.toSeq).toSet
    assert(codes(streamed) === codes(flat))

    // therefore the full pruned search is row-identical
    def search(p: String) = VectorIndex.read(spark, p)
      .search(queries, k = 3, Some(corpus), nProbe = 2, refine = 4)
      .collect().map(_.toSeq).toSet
    assert(search(streamed) === search(flat))
  }

  test("residual bootstrap: batches encode residuals, equality with the batch package holds") {
    // the residual flag rides the codebooks table, so processBatch picks
    // the residual encoder with no out-of-band configuration — pin that
    // the streamed residual package equals the batch-built residual one
    val dir = Files.createTempDirectory("pqingestres").toFile
    dir.deleteOnExit()
    val flat = dir.getAbsolutePath + "/flat"
    val streamed = dir.getAbsolutePath + "/streamed"
    VectorIndex.fit(corpus, IvfPq(nCells = 2, m = 2, ksub = 4, residual = true))
      .write(corpus, flat, partitioned = true)
    PqIngest.bootstrap(corpus, streamed, nCells = 2, m = 2, ksub = 4,
      residual = true)
    PqIngest.processBatch(batchA, 0L, streamed)
    PqIngest.processBatch(batchB, 1L, streamed)
    def codes(p: String) = spark.read.parquet(s"$p/codes")
      .select("neighbor_id", "cell", "code_0", "code_1")
      .collect().map(_.toSeq).toSet
    assert(codes(streamed) === codes(flat))
    def search(p: String) = VectorIndex.read(spark, p)
      .search(queries, k = 3, Some(corpus), nProbe = 2, refine = 4)
      .collect().map(_.toSeq).toSet
    assert(search(streamed) === search(flat))
    // and the flag is actually set on both meta tables
    for (p <- Seq(flat, streamed))
      assert(spark.read.parquet(s"$p/codebooks")
        .select("residual").head().getBoolean(0))
  }

  test("start(): micro-batches stream codes onto a bootstrapped index end-to-end") {
    val dir = Files.createTempDirectory("pqstream").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/idx"
    val cp = dir.getAbsolutePath + "/cp"
    PqIngest.bootstrap(corpus, idx, nCells = 2, m = 2, ksub = 4)

    implicit val sql = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val q = PqIngest.start(vecs, idx, cp)
    try {
      input.addData(all.filter(_._1 % 2 == 0): _*)
      q.processAllAvailable()
      input.addData(all.filter(_._1 % 2 == 1): _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = VectorIndex.read(spark, idx)
      .search(queries, k = 3, Some(corpus), nProbe = 2, refine = 4)
      .collect().map(_.toSeq).toSet
    val flat = dir.getAbsolutePath + "/flat"
    VectorIndex.fit(corpus, IvfPq(nCells = 2, m = 2, ksub = 4))
      .write(corpus, flat, partitioned = true)
    val batch = VectorIndex.read(spark, flat)
      .search(queries, k = 3, Some(corpus), nProbe = 2, refine = 4)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("a build killed mid-ingest re-enters cleanly after clearing the path") {
    // the ann_ivfpq_streamed build's crash window: bootstrap + first batch
    // land, then the run dies before the built marker. The re-entered
    // build must not trip bootstrap's codes-exist guard — ensureIndex
    // clears the partial entry first, and the seeded fits + shared
    // encoding kernels make the rebuild identical to an uninterrupted one.
    val dir = Files.createTempDirectory("pqreenter").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/idx"
    def build(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
      PqIngest.bootstrap(corpus, p, nCells = 2, m = 2, ksub = 4)
      PqIngest.processBatch(batchA, 0L, p)
      PqIngest.processBatch(batchB, 1L, p)
    }
    // simulated crash: bootstrap + one batch only, no sentinel
    PqIngest.bootstrap(corpus, idx, nCells = 2, m = 2, ksub = 4)
    PqIngest.processBatch(batchA, 0L, idx)
    // un-cleared re-entry is exactly what bootstrap refuses
    intercept[IllegalStateException] {
      PqIngest.bootstrap(corpus, idx, nCells = 2, m = 2, ksub = 4)
    }
    build(idx) // the reentrant block succeeds over the partial state
    val flat = dir.getAbsolutePath + "/flat"
    VectorIndex.fit(corpus, IvfPq(nCells = 2, m = 2, ksub = 4))
      .write(corpus, flat, partitioned = true)
    def search(p: String) = VectorIndex.read(spark, p)
      .search(queries, k = 3, Some(corpus), nProbe = 2, refine = 4)
      .collect().map(_.toSeq).toSet
    assert(search(idx) === search(flat))
  }

  test("streaming into an un-bootstrapped index refuses; replay is a no-op") {
    val dir = Files.createTempDirectory("pqguard").toFile
    dir.deleteOnExit()
    val idx = dir.getAbsolutePath + "/idx"

    val e = intercept[IllegalStateException](PqIngest.processBatch(batchA, 0L, idx))
    assert(e.getMessage.contains("bootstrap"))

    PqIngest.bootstrap(corpus, idx, nCells = 2, m = 2, ksub = 4)
    PqIngest.processBatch(batchA, 0L, idx)
    val n0 = spark.read.parquet(s"$idx/codes").count()
    PqIngest.processBatch(batchA, 0L, idx) // replay
    assert(spark.read.parquet(s"$idx/codes").count() === n0)
    PqIngest.processBatch(batchB, 1L, idx)
    assert(spark.read.parquet(s"$idx/codes").select("neighbor_id").distinct()
      .count() === all.size.toLong)

    // re-bootstrapping over landed codes would silently invalidate them —
    // refused; codebook drift means a FRESH index path
    val e2 = intercept[IllegalStateException](
      PqIngest.bootstrap(corpus, idx, nCells = 2, m = 2, ksub = 4))
    assert(e2.getMessage.contains("fresh index path"))
  }
}
