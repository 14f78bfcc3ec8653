package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // orthogonal-ish basis + one near-duplicate of vector 0
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // near v0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))) // opposite of v0
    .toDF("vec_id", "embedding")

  test("bruteForceTopK: nearest neighbor of v0 is its near-duplicate, opposite ranks last") {
    val r = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 4)
      .orderBy("rank").collect()
    assert(r.head.getAs[Long]("neighbor_id") === 1L)
    assert(r.head.getAs[Double]("sim") > 0.99)
    assert(r.last.getAs[Long]("neighbor_id") === 4L)
    assert(r.last.getAs[Double]("sim") === -1.0)
  }

  test("bruteForceTopK excludes the query itself") {
    val r = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 10)
    assert(!r.select("neighbor_id").as[Long].collect().contains(0L))
  }

  test("lshTopK: same-bucket near-duplicate is found; ranking consistent with brute force") {
    val r = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0), k = 4,
      dim = 4, bits = 2)
    val neighbors = r.select("neighbor_id").as[Long].collect().toSet
    // recall<1 by construction, but the near-identical vector must collide
    assert(neighbors.contains(1L))
  }

  test("ivfTopK: near-identical vector lands in the probed cell and is found") {
    val r = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0), k = 4,
      nCells = 2, nProbe = 2, seed = 42L)
    val neighbors = r.select("neighbor_id").as[Long].collect().toSet
    assert(neighbors.contains(1L)) // v1 ≈ v0 must be probed with nProbe=nCells
  }

  test("approximate ANN paths clear the recall@5 gate vs brute force (testdata corpus)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val lsh = Similarity.lshTopK(emb, q, k = 5, dim = 64, bits = 4, tables = 16)
    val ivf = Similarity.ivfTopK(emb, q, k = 5, nCells = 8, nProbe = 4)
    val lshAvg = Similarity.recallAtK(lsh, brute).agg(avg("recall")).as[Double].head()
    val ivfAvg = Similarity.recallAtK(ivf, brute).agg(avg("recall")).as[Double].head()
    info(f"lsh avg recall@5 = $lshAvg%.2f, ivf avg recall@5 = $ivfAvg%.2f")
    assert(lshAvg >= 0.6, s"multi-table SRP-LSH recall regressed: $lshAvg")
    assert(ivfAvg >= 0.6, s"IVF recall regressed: $ivfAvg")
  }

  test("pqTopK: ADC + exact re-rank clears the recall@5 gate; codes stay in [1, ksub]") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val pq = Similarity.pqTopK(emb, q, k = 5, refine = 32)
    val pqAvg = Similarity.recallAtK(pq, brute).agg(avg("recall")).as[Double].head()
    info(f"pq avg recall@5 = $pqAvg%.2f")
    assert(pqAvg >= 0.6, s"PQ recall regressed: $pqAvg")
    // output contract matches the other top-k paths
    assert(pq.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim"))
    assert(pq.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
  }

  test("PQ index on disk: write/read round-trip returns the in-session answer") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("pqidx").toFile
    idx.deleteOnExit()
    val path = idx.getAbsolutePath + "/index"

    Similarity.writePqIndex(emb, path)
    // the persisted layout: small codebooks table + m-byte-per-row codes
    val cb = spark.read.parquet(path + "/codebooks")
    assert(cb.count() === 8L * 16L)
    val codes = spark.read.parquet(path + "/codes")
    assert(codes.count() === emb.count())
    assert(codes.columns.toSet ===
      (Set("neighbor_id", "n_corpus") ++ (0 until 8).map(j => s"code_$j")))

    // same seed -> same codebooks -> row-identical results to pqTopK
    val fromIndex = Similarity.pqTopKFromIndex(path, emb, q, k = 5, refine = 32)
    val inSession = Similarity.pqTopK(emb, q, k = 5, refine = 32)
    assert(fromIndex.exceptAll(inSession).count() === 0)
    assert(inSession.exceptAll(fromIndex).count() === 0)
  }

  test("ivfPqTopK: the composed index clears the recall@5 gate") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val ivfpq = Similarity.ivfPqTopK(emb, q, k = 5, nCells = 8, nProbe = 4, refine = 32)
    val avgR = Similarity.recallAtK(ivfpq, brute).agg(avg("recall")).as[Double].head()
    info(f"ivfpq avg recall@5 = $avgR%.2f")
    assert(avgR >= 0.6, s"IVF-PQ recall regressed: $avgR")
    assert(ivfpq.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim"))
  }

  test("semanticPairs: subset of exact pairs (precision 1), recall gated") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val exact = Similarity.cosinePairs(emb, threshold = 0.45)
    val sem = Similarity.semanticPairs(emb, threshold = 0.45, nCells = 4,
      assignProbes = 2)
    // precision 1 by construction: every semantic pair is a true pair with
    // the identical rounded sim
    assert(sem.exceptAll(exact).count() === 0)
    val nExact = exact.count()
    val nFound = sem.count()
    info(s"semantic pairs: $nFound of $nExact exact pairs recovered")
    assert(nExact === 0 || nFound.toDouble / nExact >= 0.5,
      s"semantic recall regressed: $nFound/$nExact")
    // the oracled gate agrees
    val gate = Similarity.pairRecall(sem, exact, bar = 0.5).collect().head
    assert(gate.getAs[Boolean]("recall_ok"))
  }

  test("quantizeInt8: range and reconstruction-error bound hold corpus-wide") {
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = Similarity.quantizeInt8(emb)
    // every quantized component within int8 symmetric range
    val badRange = q.filter(
      array_max(transform(col("q8"), x => abs(x))) > 127).count()
    assert(badRange === 0)
    // emitted error column respects the scale/254 bound (+ rounding slack:
    // the error column is rounded to 6 dp, and `scale` itself to 6 dp)
    val badBound = q.filter(
      col("max_abs_err") > col("scale") / 254.0 + 1e-6).count()
    assert(badBound === 0)
    // zero vector degenerates to zeros with zero error
    import spark.implicits._
    val z = Similarity.quantizeInt8(
      Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")).head()
    assert(z.getAs[Seq[Int]]("q8").forall(_ === 0))
    assert(z.getAs[Double]("max_abs_err") === 0.0)
  }

  test("cosine is deterministic (sequential fold): same inputs → identical doubles") {
    val a = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 4)
      .select("sim").as[Double].collect().toSeq
    val b = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 4)
      .select("sim").as[Double].collect().toSeq
    assert(a === b)
  }

  test("partitioned IVF index: ivfTopKFromPartitioned equals the " +
      "centroid-replay search row-for-row, and vectors land under cell= " +
      "directories") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpart").toFile
    dir.deleteOnExit()
    val flat = dir.getAbsolutePath + "/flat"
    val part = dir.getAbsolutePath + "/part"
    Similarity.writeIvfCentroids(vecs, flat, nCells = 3)
    Similarity.writeIvfPartitioned(vecs, part, nCells = 3)

    val cellDirs = new java.io.File(part + "/vectors")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "no cell= partition directories")

    val qs = vecs.filter(col("vec_id") < 2)
    val a = Similarity.ivfTopKFromCentroids(flat, vecs, qs, k = 4, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.ivfTopKFromPartitioned(spark, part, qs, k = 4, nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b, "pruned IVF search diverged from the centroid replay")
  }

  test("partitioned IVF-PQ package: ivfPqTopKFromPartitioned equals the " +
      "two-index search row-for-row; codes land under cell= dirs with no " +
      "stored vectors") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqpart").toFile
    dir.deleteOnExit()
    val ivf = dir.getAbsolutePath + "/ivf"
    val pq = dir.getAbsolutePath + "/pq"
    val part = dir.getAbsolutePath + "/part"
    Similarity.writeIvfCentroids(vecs, ivf, nCells = 3)
    // BOTH packages residual-coded here: the equality then also proves
    // the self-describing `residual` flag routes every reader onto the
    // residual ADC formula (the product queries run the direct default)
    Similarity.writePqResidualIndex(vecs, ivf, pq, m = 2, ksub = 2)
    Similarity.writeIvfPqPartitioned(vecs, part, nCells = 3, m = 2, ksub = 2,
      residual = true)

    val cellDirs = new java.io.File(part + "/codes")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "no cell= partition directories")
    // the codes payload is id + codes only — no vector column on disk
    val codeCols = spark.read.parquet(part + "/codes").columns.toSet
    assert(!codeCols.contains("nvec") && !codeCols.contains("embedding"),
      s"codes table stores vectors: $codeCols")

    val qs = vecs.filter(col("vec_id") < 2)
    val a = Similarity.ivfPqTopKFromIndexes(ivf, pq, vecs, qs, k = 3,
        nProbe = 2, refine = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.ivfPqTopKFromPartitioned(spark, part, vecs, qs, k = 3,
        nProbe = 2, refine = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b, "pruned IVF-PQ search diverged from the two-index search")
  }

  test("partitioned loaders refuse a centroid table whose cells have a gap") {
    val dir = java.nio.file.Files.createTempDirectory("ivfgap").toFile
    dir.deleteOnExit()
    val ivf = dir.getAbsolutePath + "/ivf"
    val ivfPq = dir.getAbsolutePath + "/ivfpq"
    Similarity.writeIvfPartitioned(vecs, ivf, nCells = 3)
    Similarity.writeIvfPqPartitioned(vecs, ivfPq, nCells = 3, m = 2, ksub = 2)
    // renumber cells 0,1,2 → 0,2,3
    Seq(ivf, ivfPq).foreach { p =>
      val c = spark.read.parquet(p + "/centroids")
        .withColumn("cell", when(col("cell") > 0, col("cell") + 1).otherwise(col("cell")))
        .collect()
      spark.createDataFrame(java.util.Arrays.asList(c: _*), c.head.schema)
        .write.mode("overwrite").parquet(p + "/centroids")
    }
    val qs = vecs.filter(col("vec_id") < 2)
    val e1 = intercept[IllegalArgumentException](
      Similarity.ivfTopKFromPartitioned(spark, ivf, qs, k = 4, nProbe = 2))
    val e2 = intercept[IllegalArgumentException](
      Similarity.ivfPqTopKFromPartitioned(spark, ivfPq, vecs, qs, k = 3, nProbe = 2, refine = 2))
    Seq(e1, e2).foreach { e =>
      assert(e.getMessage.contains("must be 0..2, got 0,2,3"), e.getMessage)
    }
  }

  test("ensureIndex on an empty corpus fingerprints as n0 instead of NPEing") {
    import spark.implicits._
    val kind = "spec_empty_" + System.nanoTime()
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val path = graft.SparkEntry.ensureIndex(spark, empty, kind, "m") { p =>
      empty.write.mode("overwrite").parquet(s"$p/m")
    }
    assert(path.contains("/n0_x0000000000000000"))
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"/tmp/graft_ann_index/$kind"), true)
  }

  test("ensureIndex fingerprints content: a same-count different-content " +
      "corpus rebuilds the index instead of reusing the stale one") {
    import spark.implicits._
    val kind = "spec_fp_" + System.nanoTime() // private /tmp keyspace per run
    var builds = 0
    def build(corpus: org.apache.spark.sql.DataFrame): String =
      graft.SparkEntry.ensureIndex(spark, corpus, kind, "m") { p =>
        builds += 1
        corpus.write.mode("overwrite").parquet(s"$p/m")
      }
    val a = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val pathA = build(a)
    assert(builds === 1)
    build(a) // identical corpus → cache hit, no rebuild
    assert(builds === 1)

    // same row count, different content: old count-only keying reused the
    // stale index here — the fingerprint must force a rebuild AND retire
    // the stale sibling so an oracle glob cannot double-read
    val b = Seq((1L, "alpha"), (2L, "CHANGED")).toDF("doc_id", "text")
    val pathB = build(b)
    assert(builds === 2)
    assert(pathA !== pathB)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(pathA)),
      "stale same-count sibling must be deleted")
    fs.delete(new org.apache.hadoop.fs.Path(s"/tmp/graft_ann_index/$kind"), true)
  }

  test("crossCosinePairs: only cross-frame pairs above threshold emit; " +
      "intra-corpus near-dups never do") {
    // corpus holds the near-dup PAIR (0, 1); eval holds a copy of v0's
    // direction plus an orthogonal vector
    val corpus = vecs.filter(col("vec_id") < 4)
    val evalSet = Seq(
      (100L, Array(2.0f, 0.0f, 0.0f, 0.0f)), // v0 scaled — cosine 1 with v0
      (101L, Array(0.0f, 0.0f, 0.0f, 1.0f))) // orthogonal to everything
      .toDF("vec_id", "embedding")
    val got = Similarity.crossCosinePairs(corpus, evalSet, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // v0 exact hit, v1 near hit (cos ≈ 0.995); the intra-corpus (0,1)
    // near-dup pair and the orthogonal eval vector emit nothing
    assert(got.map(t => (t._1, t._2)) === Set((0L, 100L), (1L, 100L)))
    assert(got.forall(_._3 >= 0.9))
  }
}
