package graft.operators

import graft.SparkSpec
import graft.operators.VectorIndex.{Ivf, IvfPq, Lsh, Pq}
import org.apache.spark.sql.DataFrame
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
    val r = VectorIndex.fit(vecs, Lsh(dim = 4, bits = 2))
      .search(vecs.filter(col("vec_id") === 0), k = 4, Some(vecs))
    val neighbors = r.select("neighbor_id").as[Long].collect().toSet
    // recall<1 by construction, but the near-identical vector must collide
    assert(neighbors.contains(1L))
  }

  test("ivfTopK: near-identical vector lands in the probed cell and is found") {
    val r = VectorIndex.fit(vecs, Ivf(2), seed = 42L)
      .search(vecs.filter(col("vec_id") === 0), k = 4, Some(vecs), nProbe = 2)
    val neighbors = r.select("neighbor_id").as[Long].collect().toSet
    assert(neighbors.contains(1L)) // v1 ≈ v0 must be probed with nProbe=nCells
  }

  test("approximate ANN paths clear the recall@5 gate vs brute force (testdata corpus)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val lsh = VectorIndex.fit(emb, Lsh(dim = 64, bits = 4, tables = 16)).search(q, 5, Some(emb))
    val ivf = VectorIndex.fit(emb, Ivf(8)).search(q, 5, Some(emb), nProbe = 4)
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
    val pq = VectorIndex.fit(emb, Pq()).search(q, 5, Some(emb), refine = 32)
    val pqAvg = Similarity.recallAtK(pq, brute).agg(avg("recall")).as[Double].head()
    info(f"pq avg recall@5 = $pqAvg%.2f")
    assert(pqAvg >= 0.6, s"PQ recall regressed: $pqAvg")
    // output contract matches the other top-k paths
    assert(pq.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim"))
    assert(pq.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
  }

  /** One persisted-index layout: how it is written under a root, how it
    * is searched after a read from disk, the in-session search it must
    * equal, and the pinned schema of every table it persists.
    */
  private case class Layout(name: String, write: String => Unit,
      fromDisk: String => DataFrame, inSession: () => DataFrame,
      tables: Seq[(String, String)])

  private val sf0001 = "/root/testdata/sf0.001" // the suite's fixture tables
  private lazy val emb001 = graft.sources.Tables.load(spark, sf0001, "embeddings")
  private def q001 = emb001.filter(col("vec_id") < 10)

  private val centroidsSchema = "struct<cell:int,centroid:array<double>,n_corpus:bigint>"
  private val codebooksSchema = "struct<subspace:int,centroid_id:int," +
    "centroid:array<double>,n_corpus:bigint,residual:boolean>"
  private def codesSchema(m: Int, cell: Boolean) = "struct<neighbor_id:bigint," +
    (0 until m).map(j => s"code_$j:int,").mkString + "n_corpus:bigint" +
    (if (cell) ",cell:int>" else ">")

  private def layouts: Seq[Layout] = Seq(
    Layout("flat IVF",
      p => VectorIndex.fit(emb001, Ivf(8)).write(emb001, p + "/ivf"),
      p => VectorIndex.read(spark, p + "/ivf").search(q001, 5, Some(emb001), nProbe = 4),
      () => VectorIndex.fit(emb001, Ivf(8)).search(q001, 5, Some(emb001), nProbe = 4),
      Seq("ivf/centroids" -> centroidsSchema)),
    Layout("partitioned IVF",
      p => VectorIndex.fit(emb001, Ivf(8)).write(emb001, p + "/ivf", partitioned = true),
      p => VectorIndex.read(spark, p + "/ivf").search(q001, 5, nProbe = 4),
      () => VectorIndex.fit(emb001, Ivf(8)).search(q001, 5, Some(emb001), nProbe = 4),
      Seq("ivf/centroids" -> centroidsSchema, "ivf/vectors" ->
        "struct<vec_id:bigint,embedding:array<double>,n_corpus:bigint,cell:int>")),
    Layout("LSH planes",
      p => VectorIndex.fit(emb001, Lsh(64, 4, 16)).write(emb001, p + "/lsh"),
      p => VectorIndex.read(spark, p + "/lsh").search(q001, 5, Some(emb001)),
      () => VectorIndex.fit(emb001, Lsh(64, 4, 16)).search(q001, 5, Some(emb001)),
      Seq("lsh/planes" -> "struct<tbl:int,bit:int,plane:array<double>,n_corpus:bigint>")),
    Layout("IVF-PQ from two indexes",
      { p =>
        VectorIndex.fit(emb001, Ivf(8)).write(emb001, p + "/ivf")
        VectorIndex.fit(emb001, Pq()).write(emb001, p + "/pq")
      },
      p => VectorIndex.read(spark, p + "/ivf", p + "/pq").search(q001, 5, Some(emb001),
        nProbe = 4, refine = 32),
      () => VectorIndex.fit(emb001, IvfPq()).search(q001, 5, Some(emb001), nProbe = 4,
        refine = 32),
      Seq("ivf/centroids" -> centroidsSchema, "pq/codebooks" -> codebooksSchema,
        "pq/codes" -> codesSchema(8, cell = false))),
    Layout("partitioned IVF-PQ (direct)",
      p => VectorIndex.fit(emb001, IvfPq()).write(emb001, p + "/ivfpq", partitioned = true),
      p => VectorIndex.read(spark, p + "/ivfpq").search(q001, 5, Some(emb001), nProbe = 4,
        refine = 32),
      () => VectorIndex.fit(emb001, IvfPq()).search(q001, 5, Some(emb001), nProbe = 4,
        refine = 32),
      Seq("ivfpq/centroids" -> centroidsSchema, "ivfpq/codebooks" -> codebooksSchema,
        "ivfpq/codes" -> codesSchema(8, cell = true))),
    Layout("partitioned IVF-PQ (residual)",
      p => VectorIndex.fit(emb001, IvfPq(residual = true))
        .write(emb001, p + "/ivfpq", partitioned = true),
      p => VectorIndex.read(spark, p + "/ivfpq").search(q001, 5, Some(emb001), nProbe = 4,
        refine = 32),
      () => VectorIndex.fit(emb001, IvfPq(residual = true)).search(q001, 5, Some(emb001),
        nProbe = 4, refine = 32),
      Seq("ivfpq/centroids" -> centroidsSchema, "ivfpq/codebooks" -> codebooksSchema,
        "ivfpq/codes" -> codesSchema(8, cell = true))),
    Layout("SemDeDup from centroids",
      p => VectorIndex.fit(emb001, Ivf(8)).write(emb001, p + "/ivf"),
      p => Similarity.semanticPairs(VectorIndex.read(spark, p + "/ivf"), emb001,
        threshold = 0.45, assignProbes = 2),
      () => Similarity.semanticPairs(VectorIndex.fit(emb001, Ivf(8)), emb001,
        threshold = 0.45, assignProbes = 2),
      Seq("ivf/centroids" -> centroidsSchema)))

  private def roundTrip(l: Layout, path: String): Unit = {
    l.write(path)
    for ((t, schema) <- l.tables)
      assert(spark.read.parquet(s"$path/$t").schema.simpleString === schema, t)
    val fromDisk = l.fromDisk(path)
    val inSession = l.inSession()
    assert(fromDisk.count() > 0, s"${l.name}: empty search")
    assert(fromDisk.exceptAll(inSession).count() === 0)
    assert(inSession.exceptAll(fromDisk).count() === 0)
  }

  for (l <- layouts)
    test(s"${l.name} index on disk: write/read round-trip returns the in-session answer") {
      assume(new java.io.File(s"$sf0001/embeddings.parquet").exists())
      val idx = java.nio.file.Files.createTempDirectory("annidx").toFile
      idx.deleteOnExit()
      roundTrip(l, idx.getAbsolutePath + "/index")
    }

  test("PQ index on disk: write/read round-trip returns the in-session answer") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("pqidx").toFile
    idx.deleteOnExit()
    val path = idx.getAbsolutePath + "/index"

    roundTrip(Layout("flat PQ",
      p => VectorIndex.fit(emb, Pq()).write(emb, p),
      p => VectorIndex.read(spark, p).search(q, 5, Some(emb), refine = 32),
      () => VectorIndex.fit(emb, Pq()).search(q, 5, Some(emb), refine = 32),
      Seq("codebooks" -> codebooksSchema, "codes" -> codesSchema(8, cell = false))), path)
    // the persisted layout: small codebooks table + m-byte-per-row codes
    val cb = spark.read.parquet(path + "/codebooks")
    assert(cb.count() === 8L * 16L)
    val codes = spark.read.parquet(path + "/codes")
    assert(codes.count() === emb.count())
    assert(codes.columns.toSet ===
      (Set("neighbor_id", "n_corpus") ++ (0 until 8).map(j => s"code_$j")))

    // same seed -> same codebooks -> row-identical results to the in-session search
    val fromIndex = VectorIndex.read(spark, path).search(q, 5, Some(emb), refine = 32)
    val inSession = VectorIndex.fit(emb, Pq()).search(q, 5, Some(emb), refine = 32)
    assert(fromIndex.exceptAll(inSession).count() === 0)
    assert(inSession.exceptAll(fromIndex).count() === 0)
  }

  /** Jobs started by `body`, counted by job group with a listener; a
    * sentinel job in its own group flushes the listener bus.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-${System.nanoTime()}"
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != s"$tag-sentinel") {
        if (g == tag) n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g != null, "the sentinel job never reached the listener")
      n
    } finally sc.removeSparkListener(listener)
  }

  test("a partitioned IVF-PQ build counts its corpus once") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqjobs").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/ivfpq"
    val jobs = jobsOf(VectorIndex.fit(vecs, IvfPq(nCells = 3, m = 2, ksub = 2))
      .write(vecs, path, partitioned = true))
    info(s"partitioned IVF-PQ build: $jobs jobs")
    // the same build with a count in each of the coarse fit, the codebook
    // fit and the n_corpus stamp started 47 jobs
    assert(jobs < 47)
    assert(spark.read.parquet(path + "/centroids").schema.simpleString === centroidsSchema)
    assert(spark.read.parquet(path + "/codebooks").schema.simpleString === codebooksSchema)
    assert(spark.read.parquet(path + "/codes").schema.simpleString ===
      codesSchema(2, cell = true))
    assert(spark.read.parquet(path + "/centroids").count() === 3L)
    assert(spark.read.parquet(path + "/codes").count() === 5L)
  }

  test("ivfPqTopK: the composed index clears the recall@5 gate") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val ivfpq = VectorIndex.fit(emb, IvfPq()).search(q, 5, Some(emb), nProbe = 4, refine = 32)
    val avgR = Similarity.recallAtK(ivfpq, brute).agg(avg("recall")).as[Double].head()
    info(f"ivfpq avg recall@5 = $avgR%.2f")
    assert(avgR >= 0.6, s"IVF-PQ recall regressed: $avgR")
    assert(ivfpq.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim"))
  }

  test("semanticPairs: subset of exact pairs (precision 1), recall gated") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val exact = Similarity.cosinePairs(emb, threshold = 0.45)
    val sem = Similarity.semanticPairs(VectorIndex.fit(emb, Ivf(4)), emb, threshold = 0.45,
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
    VectorIndex.fit(vecs, Ivf(3)).write(vecs, flat)
    VectorIndex.fit(vecs, Ivf(3)).write(vecs, part, partitioned = true)

    val cellDirs = new java.io.File(part + "/vectors")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "no cell= partition directories")

    val qs = vecs.filter(col("vec_id") < 2)
    val a = VectorIndex.read(spark, flat).search(qs, 4, Some(vecs), nProbe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val b = VectorIndex.read(spark, part).search(qs, 4, nProbe = 2)
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
    VectorIndex.fit(vecs, Ivf(3)).write(vecs, ivf)
    // BOTH packages residual-coded here: the equality then also proves
    // the self-describing `residual` flag routes every reader onto the
    // residual ADC formula (the product queries run the direct default)
    val residual = VectorIndex.fit(vecs, IvfPq(nCells = 3, m = 2, ksub = 2, residual = true))
    residual.write(vecs, pq)
    residual.write(vecs, part, partitioned = true)

    val cellDirs = new java.io.File(part + "/codes")
      .listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty, "no cell= partition directories")
    // the codes payload is id + codes only — no vector column on disk
    val codeCols = spark.read.parquet(part + "/codes").columns.toSet
    assert(!codeCols.contains("nvec") && !codeCols.contains("embedding"),
      s"codes table stores vectors: $codeCols")

    val qs = vecs.filter(col("vec_id") < 2)
    val a = VectorIndex.read(spark, ivf, pq).search(qs, 3, Some(vecs), nProbe = 2, refine = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val b = VectorIndex.read(spark, part).search(qs, 3, Some(vecs), nProbe = 2, refine = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b, "pruned IVF-PQ search diverged from the two-index search")
  }

  test("partitioned loaders refuse a centroid table whose cells have a gap") {
    import graft.streaming.{PqIngest, VectorIngest}
    val dir = java.nio.file.Files.createTempDirectory("ivfgap").toFile
    dir.deleteOnExit()
    val ivf = dir.getAbsolutePath + "/ivf"
    val ivfPq = dir.getAbsolutePath + "/ivfpq"
    val stream = dir.getAbsolutePath + "/stream"
    val pqStream = dir.getAbsolutePath + "/pqstream"
    VectorIndex.fit(vecs, Ivf(3)).write(vecs, ivf, partitioned = true)
    VectorIndex.fit(vecs, IvfPq(nCells = 3, m = 2, ksub = 2)).write(vecs, ivfPq, partitioned = true)
    VectorIngest.processBatch(vecs, 0L, stream, nCells = 3)
    PqIngest.bootstrap(vecs, pqStream, nCells = 3, m = 2, ksub = 2)
    // renumber cells 0,1,2 → 0,2,3
    Seq(ivf, ivfPq, stream, pqStream).foreach { p =>
      val c = spark.read.parquet(p + "/centroids")
        .withColumn("cell", when(col("cell") > 0, col("cell") + 1).otherwise(col("cell")))
        .collect()
      spark.createDataFrame(java.util.Arrays.asList(c: _*), c.head.schema)
        .write.mode("overwrite").parquet(p + "/centroids")
    }
    val qs = vecs.filter(col("vec_id") < 2)
    val errors = Seq(
      () => VectorIndex.read(spark, ivf).search(qs, 4, nProbe = 2),
      () => VectorIndex.read(spark, ivfPq).search(qs, 3, Some(vecs), nProbe = 2, refine = 2),
      () => VectorIngest.processBatch(vecs, 1L, stream, nCells = 3),
      () => PqIngest.processBatch(vecs, 0L, pqStream),
      () => Similarity.clusterBalancedSample(VectorIndex.read(spark, ivf), vecs, cap = 2))
      .map(f => intercept[IllegalArgumentException](f()))
    errors.foreach { e =>
      assert(e.getMessage.contains("must be 0..2, got 0,2,3"), e.getMessage)
    }
    // no streamed row was assigned against the renumbered cells
    assert(!new java.io.File(pqStream + "/codes").exists())
    assert(spark.read.parquet(stream + "/vectors").count() === 5L)
  }

  test("a codebook gap or a missing index table fails by name") {
    val dir = java.nio.file.Files.createTempDirectory("pqgap").toFile
    dir.deleteOnExit()
    val gap = dir.getAbsolutePath + "/gap"
    val pq = dir.getAbsolutePath + "/pq"
    VectorIndex.fit(vecs, Pq(m = 2, ksub = 2)).write(vecs, gap)
    VectorIndex.fit(vecs, Pq(m = 2, ksub = 2)).write(vecs, pq)
    // renumber subspaces 0,1 → 0,2
    val c = spark.read.parquet(gap + "/codebooks")
      .withColumn("subspace", when(col("subspace") > 0, col("subspace") + 1)
        .otherwise(col("subspace")))
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(c: _*), c.head.schema)
      .write.mode("overwrite").parquet(gap + "/codebooks")
    val e1 = intercept[IllegalArgumentException](VectorIndex.read(spark, gap))
    assert(e1.getMessage.contains(s"subspace ids in $gap/codebooks must be 0..1, got 0,2"),
      e1.getMessage)
    val none = dir.getAbsolutePath + "/none"
    val e2 = intercept[IllegalArgumentException](
      VectorIndex.read(spark, none).search(vecs, 3, Some(vecs)))
    assert(e2.getMessage.contains(s"no centroids, codebooks or planes table under $none"),
      e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Similarity.clusterBalancedSample(VectorIndex.read(spark, pq), vecs, cap = 1))
    assert(e3.getMessage.contains(s"no centroids table under $pq"), e3.getMessage)
  }

  test("a payload is read only beside the meta it was encoded against") {
    val dir = java.nio.file.Files.createTempDirectory("annhome").toFile
    dir.deleteOnExit()
    val ivf = dir.getAbsolutePath + "/ivf"
    val pq = dir.getAbsolutePath + "/pq"
    val ivfPq = dir.getAbsolutePath + "/ivfpq"
    VectorIndex.fit(vecs, Ivf(3)).write(vecs, ivf, partitioned = true)
    VectorIndex.fit(vecs, Pq(m = 2, ksub = 2)).write(vecs, pq)
    VectorIndex.fit(vecs, IvfPq(nCells = 3, m = 2, ksub = 2)).write(vecs, ivfPq, partitioned = true)
    val qs = vecs.filter(col("vec_id") < 2)
    // the IVF half's stored vectors are no PQ payload: the corpus is
    // encoded against the two halves, as for two flat indexes
    val composed = VectorIndex.read(spark, ivf, pq)
      .search(qs, 3, Some(vecs), nProbe = 2, refine = 2)
    val inSession = VectorIndex.fit(vecs, IvfPq(nCells = 3, m = 2, ksub = 2))
      .search(qs, 3, Some(vecs), nProbe = 2, refine = 2)
    assert(composed.count() > 0)
    assert(composed.exceptAll(inSession).count() === 0)
    assert(inSession.exceptAll(composed).count() === 0)
    // cell-partitioned codes are only read with the centroids beside them
    val e = intercept[IllegalArgumentException](VectorIndex.read(spark, ivf, ivfPq))
    assert(e.getMessage.contains(s"$ivfPq/codes is partitioned by the cells of the " +
      s"centroids beside it, but the centroids were read from $ivf"), e.getMessage)
  }

  test("a corpus smaller than ksub searches in session; bootstrap refuses it") {
    val r = VectorIndex.fit(vecs, Pq(m = 2, ksub = 16))
      .search(vecs.filter(col("vec_id") === 0), 3, Some(vecs), refine = 2)
      .orderBy("rank").collect()
    assert(r.length === 3)
    assert(r.head.getAs[Long]("neighbor_id") === 1L)
    val dir = java.nio.file.Files.createTempDirectory("pqsmall").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/index"
    val e = intercept[IllegalArgumentException](
      graft.streaming.PqIngest.bootstrap(vecs, path, nCells = 2, m = 2, ksub = 16))
    assert(e.getMessage.contains(
      "snapshot has 5 vectors — need >= max(nCells=2, ksub=16) to bootstrap"), e.getMessage)
    assert(!new java.io.File(path + "/codebooks").exists())
  }

  test("ensureIndex on an empty corpus fingerprints as n0 instead of NPEing") {
    import spark.implicits._
    val kind = "spec_empty_" + System.nanoTime()
    val root = graft.SharedSpark.indexRoot
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val path = graft.queries.QueryCommon.ensureIndex(spark, root, empty, kind) { p =>
      empty.write.mode("overwrite").parquet(s"$p/m")
    }
    assert(path.contains("/n0_x0000000000000000"))
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$root/$kind"), true)
  }

  test("ensureIndex fingerprints content: a same-count different-content " +
      "corpus rebuilds the index instead of reusing the stale one") {
    import spark.implicits._
    val kind = "spec_fp_" + System.nanoTime() // private keyspace per run
    val root = graft.SharedSpark.indexRoot
    var builds = 0
    def build(corpus: org.apache.spark.sql.DataFrame): String =
      graft.queries.QueryCommon.ensureIndex(spark, root, corpus, kind) { p =>
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
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$kind"), true)
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
