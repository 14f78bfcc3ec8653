package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity

/** Streaming vector ingest into the cell-partitioned IVF layout — the ANN
  * twin of [[IndexIngest.startPartitioned]] (embeddings of a daily crawl
  * land on the 100 TB vector index without rebuilding it).
  *
  * Contract, mirroring production IVF practice: the coarse quantizer is
  * trained ONCE — by the first batch, on a seeded sample of itself — and
  * every later batch is ASSIGNED to those fixed centroids (appending under
  * the existing `cell=` directories; re-training on append would silently
  * re-bucket history). The centroids table is the index's self-describing
  * meta, exactly like the partitioned BM25 index's bucket count: the
  * `nCells`/`seed` parameters are consulted only when no centroids exist
  * yet.
  *
  * Layout: `vectors/cell=<c>/batch_id=<b>/` — cell OUTER (the pruned
  * scan's partition key and the per-cell compaction unit), batch inner.
  * The vectors table is one sink of the [[BatchMarker.ingest]]
  * exactly-once core.
  *
  * Search composes unchanged: [[Similarity.ivfTopKFromPartitioned]] reads
  * `centroids` + `vectors` and projects only (id, vec, cell), so the inner
  * `batch_id` partition column is ignored and the probed-cell partition
  * prune works identically on the streamed layout.
  * [[graft.sinks.Compaction.compactPartitions]] recurses to the leaf
  * `cell=/batch_id=` dirs, so small per-batch files compact per cell with
  * the layout — and the pruned reader — intact.
  */
object VectorIngest {

  def start(vecs: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 8, seed: Long = 42L,
      maxTrainSamples: Int = 100000): StreamingQuery =
    BatchMarker.stream(vecs, checkpoint)(processBatch(_, _, indexPath, idCol,
      vecCol, nCells, seed, maxTrainSamples))

  /** One micro-batch, callable from tests and backfills directly. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 8, seed: Long = 42L,
      maxTrainSamples: Int = 100000): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val centroidsPath = s"$indexPath/centroids"
    val vectors = BatchMarker.Sink(indexPath, "vectors", s"$indexPath/vectors",
      outer = Some("cell"))
    // an empty micro-batch (sources can advance offsets with no rows) has
    // nothing to write and must NOT stamp a degenerate quantizer — the
    // core's isEmpty probe lands it as a marker only
    BatchMarker.ingest(batch, batchId, Seq(vectors), skipEmpty = true) { pending =>
      // centroids first, overwrite-idempotent (the IndexIngest meta
      // contract): a crash after centroids but before the vector append
      // replays into the same overwrite; later batches never re-fit
      val centers: Array[Array[Double]] = readCentroids(spark, centroidsPath)
        .getOrElse {
          // a stream doesn't control its batch sizes: a first batch
          // smaller than nCells must clamp k rather than fail the KMeans
          // fit — the centroids table is self-describing, so later
          // (larger) batches stay consistent with whatever cell count was
          // stamped. The count() runs only on this one first-ever batch.
          val k = math.max(1L, math.min(nCells.toLong, batch.count())).toInt
          val c = Similarity.fitQuantizer(batch, k, seed, maxTrainSamples,
            vecCol)
          c.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
            .toDF("cell", "centroid")
            .coalesce(1).write.mode("overwrite").parquet(centroidsPath)
          c
        }
      pending.append(vectors)(Similarity.assignToCells(batch, centers, idCol,
        vecCol, idCol, vecCol, probes = 1))
    }
  }

  private def readCentroids(spark: SparkSession,
      centroidsPath: String): Option[Array[Array[Double]]] = {
    if (!BatchMarker.exists(spark, s"$centroidsPath/_SUCCESS")) None
    else
      Some(spark.read.parquet(centroidsPath)
        .select(col("cell"), col("centroid")).collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Double](1).toArray))
  }
}
