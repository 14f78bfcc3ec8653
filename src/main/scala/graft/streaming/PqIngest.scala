package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.VectorIndex

/** Streaming code ingest: each micro-batch appends to the cell-partitioned
  * IVF-PQ layout of a [[VectorIndex]] (`centroids` + `codebooks` +
  * `codes/cell=<c>/batch_id=<b>/` with NO stored vectors, see
  * [[VectorIndex.append]]) — [[VectorIngest]]'s compressed sibling.
  *
  * Unlike [[VectorIngest]], the meta is BOOTSTRAPPED from a corpus
  * snapshot ([[bootstrap]]: the same seeded fit as a batch-built index,
  * so a bootstrap over the same data yields identical meta tables), and
  * [[processBatch]] REFUSES to run without it rather than training
  * codebooks on whatever the first micro-batch carries. Batches are
  * encoded against the frozen codebooks in the encoding space the
  * codebooks table records; codebook drift is handled by bootstrapping a
  * fresh index path from a new snapshot, never by mutating history. Codes
  * carry the snapshot's `n_corpus` stamp.
  */
object PqIngest {

  /** Fit the coarse quantizer and PQ codebooks on a corpus SNAPSHOT and
    * persist them as the index's meta. Writes no codes: batches stream
    * those in. A snapshot needs at least max(nCells, ksub) vectors.
    */
  def bootstrap(snapshot: DataFrame, indexPath: String,
      nCells: Int = 8, m: Int = 8, ksub: Int = 16,
      vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      residual: Boolean = false): Unit = {
    // re-bootstrapping over landed codes would silently invalidate every
    // one of them (they were encoded against the about-to-be-replaced
    // codebooks), and a crash between the two meta overwrites would leave
    // mixed-generation meta. A crashed INITIAL bootstrap (no codes yet)
    // replays cleanly: both tables are overwritten together.
    if (BatchMarker.exists(snapshot.sparkSession, s"$indexPath/codes"))
      throw new IllegalStateException(
        s"$indexPath already holds codes encoded against its existing " +
          "codebooks — bootstrap a fresh index path instead of " +
          "re-fitting over them")
    val index = VectorIndex.fit(snapshot, VectorIndex.IvfPq(nCells, m, ksub, residual),
      vecCol, seed, maxTrainSamples)
    // a too-small snapshot is a caller error here (an in-session fit
    // accepts it): ksub sub-centroids per subspace need at least that many
    // training vectors, and a snapshot that small has no business
    // bootstrapping a compressed index
    val n = index.nCorpus.getOrElse(0L)
    require(n >= math.max(nCells, ksub),
      s"snapshot has $n vectors — need >= max(nCells=$nCells, ksub=$ksub) to bootstrap")
    index.writeMeta(snapshot.sparkSession, indexPath)
  }

  def start(vecs: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    BatchMarker.stream(vecs, checkpoint)(
      processBatch(_, _, indexPath, idCol, vecCol))

  /** One micro-batch: assign to the frozen cells, encode against the
    * frozen codebooks, append under cell=/batch_id=.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    VectorIndex.append(batch, batchId, indexPath, "codes", idCol, vecCol) {
      val index = VectorIndex.read(batch.sparkSession, indexPath)
      if (index.centers.isEmpty || index.books.isEmpty)
        throw new IllegalStateException(
          s"$indexPath has no centroids/codebooks — bootstrap() the index " +
            "from a corpus snapshot before streaming into it")
      index
    }
}
