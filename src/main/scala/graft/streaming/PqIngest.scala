package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming code ingest into the FULL production vector-index package —
  * [[VectorIngest]]'s IVF-PQ sibling for the layout
  * [[Similarity.writeIvfPqPartitioned]] persists (centroids + codebooks +
  * cell-partitioned codes with NO stored vectors).
  *
  * Contract differs from [[VectorIngest]] deliberately: PQ codebooks want
  * a representative training sample, so the index is BOOTSTRAPPED from a
  * corpus snapshot ([[bootstrap]] — the same seeded fits as the batch
  * package, so a bootstrap over the same data yields byte-identical meta
  * tables) and [[processBatch]] REFUSES to run without that meta rather
  * than training on whatever the first micro-batch happens to carry. New
  * vectors are encoded against the frozen codebooks — the standard
  * production posture (codebook drift is handled by rebuilding the index
  * from a fresh snapshot, never by mutating history).
  *
  * Codes append under `codes/cell=<c>/batch_id=<b>/` as one sink of the
  * [[BatchMarker.ingest]] exactly-once core;
  * [[Similarity.ivfPqTopKFromPartitioned]] and per-cell compaction
  * compose unchanged (the search projects only (neighbor_id, cell,
  * code_*) and re-ranks from the live corpus).
  */
object PqIngest {

  /** Fit the coarse quantizer and PQ codebooks on a corpus SNAPSHOT and
    * persist them as the index's meta — identical tables to
    * [[Similarity.writeIvfPqPartitioned]] over the same data and seed
    * (same seeded fit kernels). Writes no codes: batches stream those in.
    */
  def bootstrap(snapshot: DataFrame, indexPath: String,
      nCells: Int = 8, m: Int = 8, ksub: Int = 16,
      vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      residual: Boolean = false): Unit = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    // re-bootstrapping over an index that already holds codes would
    // silently invalidate every one of them (they were encoded against
    // the about-to-be-replaced codebooks) — and a crash between the two
    // meta overwrites would leave mixed-generation centroids/codebooks.
    // Refuse; codebook drift is handled by building a FRESH index path
    // from a new snapshot. A crashed INITIAL bootstrap (no codes yet)
    // replays cleanly: both tables are overwritten together.
    if (BatchMarker.exists(spark, s"$indexPath/codes"))
      throw new IllegalStateException(
        s"$indexPath already holds codes encoded against its existing " +
          "codebooks — bootstrap a fresh index path instead of " +
          "re-fitting over them")
    val n = snapshot.count() // records the snapshot size, not a live count
    // unlike VectorIngest's clamp, a too-small PQ snapshot is a caller
    // error: ksub sub-centroids per subspace need at least that many
    // training vectors, and a snapshot that small has no business
    // bootstrapping a compressed index
    require(n >= math.max(nCells, ksub),
      s"snapshot has $n vectors — need >= max(nCells=$nCells, ksub=$ksub) to bootstrap")
    val centers = Similarity.fitQuantizer(snapshot, nCells, seed,
      maxTrainSamples, vecCol)
    // same encoding-space choice as writeIvfPqPartitioned (direct by
    // default — see the A/B note at fitPqCodebooksResidual); the
    // codebooks table records it so batches encode consistently forever
    val books =
      if (residual)
        Similarity.fitPqCodebooksResidual(snapshot, centers, m, ksub,
          seed, maxTrainSamples, vecCol)
      else Similarity.fitPqCodebooks(snapshot, m, ksub, seed,
        maxTrainSamples, vecCol)
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq, n) }.toSeq
      .toDF("cell", "centroid", "n_corpus")
      .coalesce(1).write.mode("overwrite").parquet(indexPath + "/centroids")
    books.indices
      .flatMap(j => books(j).indices.map(c => (j, c, books(j)(c).toSeq, n)))
      .toDF("subspace", "centroid_id", "centroid", "n_corpus")
      .withColumn("residual", lit(residual))
      .coalesce(1).write.mode("overwrite").parquet(indexPath + "/codebooks")
  }

  def start(vecs: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    BatchMarker.stream(vecs, checkpoint)(
      processBatch(_, _, indexPath, idCol, vecCol))

  /** One micro-batch: assign to the frozen cells (raw space), encode
    * against the frozen codebooks (normalized space — the
    * writeIvfPqPartitioned convention), append under cell=/batch_id=.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val codes = BatchMarker.Sink(indexPath, "codes", s"$indexPath/codes",
      outer = Some("cell"))
    BatchMarker.ingest(batch, batchId, Seq(codes), skipEmpty = true) { pending =>
      val (centers, books, nSnapshot, residual) =
        readMeta(spark, indexPath).getOrElse(
          throw new IllegalStateException(
            s"$indexPath has no centroids/codebooks — bootstrap() the index " +
              "from a corpus snapshot before streaming into it"))
      pending.append(codes)(Similarity.assignToCells(batch, centers, idCol,
          vecCol, "neighbor_id", "rawv", probes = 1)
        .select(col("neighbor_id"),
          Similarity.normalize(col("rawv")).as("nvec"), col("cell"))
        .withColumn("rvec",
          if (residual) Similarity.residualOf(col("nvec"), col("cell"), centers)
          else col("nvec"))
        .select(col("neighbor_id") +: col("cell") +:
          Similarity.pqCodeCols(books, col("rvec")): _*)
        .withColumn("n_corpus", lit(nSnapshot))) // the flat layout's stamp
    }
  }

  private def readMeta(spark: SparkSession, indexPath: String)
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]], Long, Boolean)] = {
    def ok(t: String) = BatchMarker.exists(spark, s"$indexPath/$t/_SUCCESS")
    if (!ok("centroids") || !ok("codebooks")) None
    else {
      val centRows = spark.read.parquet(s"$indexPath/centroids")
        .select(col("cell"), col("centroid"), col("n_corpus")).collect()
        .sortBy(_.getInt(0))
      val centers = centRows.map(_.getSeq[Double](1).toArray)
      val nSnapshot = centRows.head.getLong(2)
      val bdf = spark.read.parquet(s"$indexPath/codebooks")
      // legacy meta without the column = direct-coded
      val residual = bdf.columns.contains("residual") &&
        bdf.select(col("residual")).head().getBoolean(0)
      val books = bdf
        .select(col("subspace"), col("centroid_id"), col("centroid"))
        .collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (_, rows) =>
          rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
        }.toArray
      Some((centers, books, nSnapshot, residual))
    }
  }
}
