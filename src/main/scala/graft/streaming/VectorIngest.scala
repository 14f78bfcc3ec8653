package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.VectorIndex

/** Streaming vector ingest: each micro-batch appends to the
  * cell-partitioned IVF layout of a [[VectorIndex]] (`centroids` +
  * `vectors/cell=<c>/batch_id=<b>/`, see [[VectorIndex.append]]), so
  * embeddings of a daily crawl land on the vector index without
  * rebuilding it.
  *
  * The coarse quantizer is trained ONCE, by the first non-empty batch on a
  * seeded sample of itself, and every later batch is assigned to those
  * fixed centroids (re-training on append would silently re-bucket
  * history). The centroids table is the index's self-describing meta:
  * `nCells`/`seed` are consulted only when none exists yet, and it carries
  * no `n_corpus` stamp, because a batch is not the corpus. A first batch
  * smaller than `nCells` fits one cell per vector.
  *
  * Search composes unchanged: [[VectorIndex.read]] finds the
  * `cell=`-partitioned `vectors` and the search lists only the probed
  * cells (the inner `batch_id` partition column is ignored).
  * [[graft.sinks.Compaction.compactPartitions]] recurses to the leaf
  * `cell=/batch_id=` dirs, so per-batch files compact per cell with the
  * layout — and the pruned reader — intact.
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
      maxTrainSamples: Int = 100000): Unit =
    VectorIndex.append(batch, batchId, indexPath, "vectors", idCol, vecCol) {
      val found = VectorIndex.read(batch.sparkSession, indexPath)
      if (found.centers.nonEmpty) found
      else {
        // centroids first, overwrite-idempotent: a crash after them but
        // before the vector append replays into the same overwrite. A
        // stream does not control its batch sizes, so k is clamped to the
        // first batch's size (this count runs on that one batch only).
        val k = math.max(1L, math.min(nCells.toLong, batch.count())).toInt
        val fitted = VectorIndex.fit(batch, VectorIndex.Ivf(k), vecCol, seed,
          maxTrainSamples).stampedWith(None)
        fitted.writeMeta(batch.sparkSession, indexPath)
        fitted
      }
    }
}
