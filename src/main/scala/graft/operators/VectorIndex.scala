package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.dotProduct
import graft.streaming.BatchMarker
import Similarity.{asDouble, assignToCells, cosine, normalize, rankTopK}

/** One vector index behind every ANN path (the quantizer × layout table is
  * in [[Similarity]]'s scaladoc): the fitted model — coarse centroids, PQ
  * codebooks with their encoding space, LSH hyperplanes, the corpus size
  * the tables are stamped with — plus, for an index read from disk, the
  * payload table found beside the meta.
  *
  * Everything else is one kernel each: [[VectorIndex.fit]] (one count, one
  * seeded sample, one memo), [[VectorIndex.read]] (every meta table, every
  * check), [[write]] (meta plus the flat or cell-partitioned payload),
  * [[VectorIndex.append]] (a micro-batch's payload rows), `encode` (the
  * stored payload) and [[search]] (probe and re-rank).
  *
  * Only [[VectorIndex.fit]] and [[VectorIndex.read]] build one, so whether
  * a search prunes a stored payload or recomputes it is decided by what
  * `read` found on disk.
  *
  * @param centers coarse centroids, cell id = array index (IVF, IVF-PQ)
  * @param books PQ codebooks `[m][ksub][dim/m]` (PQ, IVF-PQ)
  * @param residual the books quantize x̂ − ĉ(cell) rather than x̂ (see
  *   [[VectorIndex.IvfPq]])
  * @param planes SRP-LSH hyperplanes `[tables][bits][dim]`
  * @param nCorpus the `n_corpus` stamp: a reader globbing several indexes
  *   (the replay oracles do) selects the one built from its corpus
  * @param stored the payload table [[VectorIndex.read]] found
  * @param at the paths read, for error messages
  */
final class VectorIndex private (
    private[graft] val centers: Array[Array[Double]] = Array.empty,
    private[graft] val books: Array[Array[Array[Double]]] = Array.empty,
    residual: Boolean = false,
    planes: Array[Array[Array[Double]]] = Array.empty,
    private[graft] val nCorpus: Option[Long] = None,
    stored: Option[VectorIndex.Stored] = None,
    at: Seq[String] = Nil) {

  private def where = if (at.isEmpty) "this in-session index" else at.mkString(", ")

  /** The coarse centroids; an index without them fails by name. */
  private[operators] def cells: Array[Array[Double]] = {
    require(centers.nonEmpty, s"no centroids table under $where")
    centers
  }

  /** Top-k neighbors of every query: (query_id, rank, neighbor_id, sim),
    * ranked by (sim desc, neighbor_id), the query itself excluded.
    *
    * LSH scores every corpus row sharing a bucket with the query in any
    * table. IVF, PQ and IVF-PQ share one probe-and-rerank kernel:
    *   - Candidates come from the cell-partitioned payload [[read]] found
    *     (only the probed cells' directories are listed: the query batch's
    *     cells become a scan-time `cell` PartitionFilter), from the flat
    *     codes table of a PQ index, or else from `encode` over `corpus`. Stored
    *     and recomputed payloads are the same kernel's output, so the two
    *     agree row for row.
    *   - IVF scores candidates in the query's `nProbe` nearest cells by
    *     exact cosine.
    *   - PQ scores codes by asymmetric distance — per query, an m×ksub
    *     lookup table; per candidate, m `element_at`s (plus the q̂·ĉ(cell)
    *     offset for residual codes) — keeps a `refine`×k shortlist, and
    *     re-ranks it by exact cosine against `corpus`.
    *
    * `corpus` may be omitted only when the index stores its vectors.
    */
  def search(queries: DataFrame, k: Int, corpus: Option[DataFrame] = None,
      nProbe: Int = 4, refine: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def scan = corpus.getOrElse(throw new IllegalArgumentException(
      s"the index under $where stores no vectors: pass the corpus to search"))
    if (planes.nonEmpty) lshSearch(scan, queries, k, idCol, vecCol)
    else {
      require(centers.nonEmpty || books.nonEmpty,
        s"no centroids, codebooks or planes table under $where")
      val pq = books.nonEmpty
      val probes = {
        val q =
          if (centers.isEmpty)
            queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qvec"))
          else assignToCells(queries, centers, idCol, vecCol, "query_id", "qvec", nProbe)
        if (!pq) q
        else q.withColumn("qvec", normalize(col("qvec")))
          .select(col("*") +: adcTables(col("qvec")): _*)
      }
      val spark = queries.sparkSession
      val rows = stored match {
        case Some(s) if s.byCell =>
          val probed = probes.select(col("cell")).distinct()
            .collect().map(_.getInt(0)).toSeq
          spark.read.parquet(s.dir).filter(col("cell").isin(probed: _*))
        case Some(s) => Dedup.spread(spark.read.parquet(s.dir), "neighbor_id")
        // spread an under-parallel corpus scan: assignment and encoding
        // are map-side, so a single-split corpus would otherwise run them
        // all in one task (gated, see Dedup.spread)
        case None => encode(Dedup.spread(scan, idCol), idCol, vecCol)
      }
      // stored and recomputed IVF payloads both hold double vectors
      val candidates =
        if (pq) rows
        else rows.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"), col("cell"))
      val joined =
        if (centers.isEmpty)
          candidates.join(broadcast(probes), col("neighbor_id") =!= col("query_id"))
        else candidates.join(probes, Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
      if (!pq) rankTopK(joined.withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4)), k)
      else {
        val adc = books.indices
          .map(j => element_at(col(s"t_$j"), col(s"code_$j"))).reduce(_ + _)
        // residual codes estimate q̂·(x̂ − ĉ): add back the q̂·ĉ(cell) term
        val est =
          if (!residual) adc
          else dotProduct(col("qvec"), element_at(normalizedCenters, col("cell") + 1)) + adc
        val shortlist = rankTopK(joined.withColumn("sim", round(est, 4)), k * refine)
        def unit(df: DataFrame, id: String, v: String) =
          df.select(col(idCol).as(id), normalize(asDouble(col(vecCol))).as(v))
        // exact re-rank: true vectors are fetched for refine·k candidates
        // per query only
        rankTopK(shortlist.select(col("query_id"), col("neighbor_id"))
          .join(unit(scan, "neighbor_id", "nvec"), "neighbor_id")
          .join(broadcast(unit(queries, "query_id", "qvec")), "query_id")
          .withColumn("sim", round(dotProduct(col("qvec"), col("nvec")), 4)), k)
      }
    }
  }

  /** Persist the index at `path`: its meta tables (`centroids`,
    * `codebooks`, `planes`, each one small `coalesce(1)` file stamped with
    * `n_corpus`) and its payload — for the cell-partitioned layout,
    * `vectors` (IVF) or `codes` (IVF-PQ) hive-partitioned by assigned cell;
    * for the flat layout, `codes` for a PQ index and nothing otherwise (the
    * corpus is then the payload a search assigns and encodes).
    */
  def write(corpus: DataFrame, path: String, partitioned: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(!partitioned || centers.nonEmpty,
      "a cell-partitioned layout needs coarse centroids")
    val index = if (nCorpus.isDefined) this else stampedWith(Some(corpus.count()))
    index.writeMeta(corpus.sparkSession, path)
    if (partitioned)
      index.payload(corpus, idCol, vecCol).write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/${if (books.isEmpty) "vectors" else "codes"}")
    else if (books.nonEmpty && centers.isEmpty)
      index.payload(corpus, idCol, vecCol).write.mode("overwrite").parquet(s"$path/codes")
  }

  /** This index with `n_corpus` stamp `n` (none for a streamed index fit
    * on its first batch: a batch is not the corpus).
    */
  private[graft] def stampedWith(n: Option[Long]): VectorIndex =
    new VectorIndex(centers, books, residual, planes, n, stored, at)

  /** The meta tables alone, stamped with `n_corpus` when the index knows
    * its corpus size (a streamed index fit on its first batch does not).
    */
  private[graft] def writeMeta(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    def save(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$path/$t")
    if (centers.nonEmpty)
      save("centroids", stamp(centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid")))
    if (books.nonEmpty)
      save("codebooks", stamp(books.indices.flatMap(j => books(j).indices.map(c =>
          (j, c, books(j)(c).toSeq))).toDF("subspace", "centroid_id", "centroid"))
        .withColumn("residual", lit(residual))) // the encoding space rides along
    if (planes.nonEmpty)
      save("planes", stamp(planes.indices.flatMap(t => planes(t).indices.map(p =>
        (t, p, planes(t)(p).toSeq))).toDF("tbl", "bit", "plane")))
  }

  private def stamp(df: DataFrame): DataFrame =
    nCorpus.fold(df)(n => df.withColumn("n_corpus", lit(n)))

  /** Payload rows of `corpus`, stamped like the meta. */
  private def payload(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    stamp(encode(corpus, idCol, vecCol))

  /** The one encode chain. IVF: the vectors with their raw-space cell
    * (idCol, vecCol, cell). PQ: the m nearest sub-centroid codes of
    * [[unitResiduals]]: (neighbor_id[, cell], code_0..code_{m-1}).
    */
  private def encode(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    if (books.isEmpty) assignToCells(corpus, cells, idCol, vecCol, idCol, vecCol, probes = 1)
    else {
      val r = unitResiduals(corpus, idCol, vecCol)
      r.select(r.columns.filter(_ != "rvec").map(col).toSeq ++ codeCols(col("rvec")): _*)
    }

  /** What the codebooks quantize: assign the raw-space cell when there are
    * centroids (the coarse quantizer was fit there), normalize, and for
    * residual books subtract the cell's normalized centroid —
    * (neighbor_id[, cell], rvec). PQ training runs the same chain.
    */
  private def unitResiduals(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val unit =
      if (centers.isEmpty)
        corpus.select(col(idCol).as("neighbor_id"), normalize(asDouble(col(vecCol))).as("nvec"))
      else assignToCells(corpus, centers, idCol, vecCol, "neighbor_id", "rawv", probes = 1)
        .select(col("neighbor_id"), normalize(col("rawv")).as("nvec"), col("cell"))
    unit.withColumn("rvec",
        if (residual) zip_with(col("nvec"), element_at(normalizedCenters, col("cell") + 1),
          (a, b) => a - b)
        else col("nvec"))
      .drop("nvec")
  }

  /** The normalized coarse centroids as one array literal indexable by
    * cell id — the residual anchor: cosine decomposes exactly as
    * q̂·x̂ = q̂·ĉ(cell) + q̂·(x̂ − ĉ(cell)).
    */
  private def normalizedCenters: Column = typedlit(centers.map { c =>
    val n = math.sqrt(c.map(x => x * x).sum)
    (if (n > 0) c.map(_ / n) else c).toSeq
  }.toSeq)

  private def subv(v: Column, j: Int): Column = {
    val subDim = books(0)(0).length
    slice(v, j * subDim + 1, subDim)
  }

  /** The m nearest-sub-centroid codes of `over`: per subspace, argmin over
    * ksub compiled dot-product distances, all literals in generated code.
    */
  private def codeCols(over: Column): Seq[Column] = books.indices.map { j =>
    val dists = array(books(j).map(c =>
      dotProduct(lit(c), lit(c)) - lit(2.0) * dotProduct(subv(over, j), lit(c))): _*)
    array_position(dists, array_min(dists)).cast("int").as(s"code_$j")
  }

  /** Per-query ADC lookup tables: t_j[c] = q_j · centroid_{j,c}. */
  private def adcTables(q: Column): Seq[Column] = books.indices.map { j =>
    array(books(j).map(c => dotProduct(subv(q, j), lit(c))): _*).as(s"t_$j")
  }

  /** Multi-table SRP-LSH: a corpus row is a candidate for a query when they
    * share a bucket in ANY table (L tables recover 1-(1-p^bits)^L where
    * one table's recall decays as (1-θ/π)^bits). Candidates are scored
    * inside the (table, bucket) equi-join and deduplicated with one
    * groupBy; raise `tables` to buy recall, `bits` to cut bucket sizes.
    * Each bit is one compiled dot product against a plane literal.
    */
  private def lshSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    def signature(v: Column, table: Array[Array[Double]]) =
      table.zipWithIndex.map { case (plane, p) =>
        when(dotProduct(v, lit(plane)) >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    val sig = (df: DataFrame, id: String, v: String) =>
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
        .select(col(id), col(v),
          posexplode(array(planes.map(signature(col(v), _)): _*)).as(Seq("table", "bucket")))
    val scored = sig(corpus, "neighbor_id", "nvec").join(sig(queries, "query_id", "qvec"),
        Seq("table", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("nvec")), 4))
      // a pair colliding in several tables scores identically in each
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("sim")).as("sim"))
    rankTopK(scored, k)
  }
}

object VectorIndex {

  /** The quantizer a [[fit]] trains. */
  sealed trait Quantizer

  /** Seeded KMeans coarse quantizer: a query probes its `nProbe` nearest
    * cells.
    */
  final case class Ivf(nCells: Int) extends Quantizer

  /** Product quantization (Jégou et al. 2011): `m` subspaces of the
    * normalized vector, a `ksub`-centroid KMeans each; m small codes a
    * vector is what the scan reads.
    */
  final case class Pq(m: Int = 8, ksub: Int = 16) extends Quantizer

  /** IVF cells prune the scan, PQ codes compress what is scanned.
    *
    * `residual` trains and encodes x̂ − ĉ(cell) (Jégou et al. 2011 §IV). It
    * was A/B'd on this repo's synthetic corpus (round 12, sf0.1): the
    * embeddings are unit-norm and near-isotropic, so E‖x̂−ĉ(cell)‖² ≈ 1.54
    * > E‖x̂‖² = 1, the residual carries MORE energy than the vector, and
    * recall@5 drops (0.72 → 0.56 at nProbe=4, m=8, ksub=16). Direct coding
    * is therefore the default; residual pays off on corpora with coarse
    * cluster structure for the cells to absorb.
    */
  final case class IvfPq(nCells: Int = 8, m: Int = 8, ksub: Int = 16,
      residual: Boolean = false) extends Quantizer

  /** `tables` sets of `bits` seeded Gaussian hyperplanes over `dim`-wide
    * vectors; the planes are the whole index and need no training.
    */
  final case class Lsh(dim: Int, bits: Int, tables: Int = 8) extends Quantizer

  /** A payload table [[read]] found, and whether it is partitioned by cell. */
  private[operators] final case class Stored(dir: String, byCell: Boolean)

  /** Fit memo: production indexes train once per corpus and serve every
    * query from that fit; a caller-supplied `corpusId` names a DATASET
    * VERSION (pass a fresh id when the data behind it changes — the memo is
    * not invalidated by `clearCache()`). Entries are nCells × dim or
    * ksub × dim doubles.
    */
  private val fits =
    scala.collection.concurrent.TrieMap.empty[(String, String, Long, Int, Any), Any]

  /** Train `quantizer` on `corpus`. The corpus is counted once (the count
    * is the `n_corpus` stamp) and every KMeans trains on the same seeded
    * sample of at most `maxTrainSamples` rows, never the full corpus.
    */
  def fit(corpus: DataFrame, quantizer: Quantizer, vecCol: String = "embedding",
      seed: Long = 42L, maxTrainSamples: Int = 100000,
      corpusId: Option[String] = None): VectorIndex = {
    def memo[T](key: Any)(fit: => T): T = corpusId.fold(fit)(id =>
      fits.getOrElseUpdate((id, vecCol, seed, maxTrainSamples, key), fit).asInstanceOf[T])
    lazy val n: Long = memo("n")(corpus.count())
    lazy val train =
      if (n > maxTrainSamples)
        corpus.sample(withReplacement = false, maxTrainSamples.toDouble / n, seed)
      else corpus
    def coarse(nCells: Int) = memo(("ivf", nCells)) {
      kmeans(train.select(array_to_vector(col(vecCol)).as("features")), nCells, seed)
    }
    def codebooks(m: Int, ksub: Int, residualTo: Array[Array[Double]]) =
      memo(("pq", m, ksub, residualTo.length)) {
        val sub =
          if (residualTo.isEmpty) train.select(normalize(asDouble(col(vecCol))).as("v"))
          else new VectorIndex(residualTo, residual = true)
            .unitResiduals(train.withColumn("__rid", monotonically_increasing_id()), "__rid",
              vecCol)
            .select(col("rvec").as("v"))
        val dim = sub.select(size(col("v"))).head().getInt(0)
        require(dim % m == 0, s"m=$m must divide dim=$dim")
        val subDim = dim / m
        val cached = sub.persist() // one bounded materialization feeds all m fits
        cached.count()
        val fitted = (0 until m).map { j =>
          kmeans(cached.select(array_to_vector(slice(col("v"), j * subDim + 1, subDim))
            .as("features")), ksub, seed ^ (j + 1) * 0x9E3779B97F4A7C15L)
        }.toArray
        cached.unpersist()
        fitted
      }
    quantizer match {
      case Ivf(nCells) => new VectorIndex(coarse(nCells), nCorpus = Some(n))
      case Pq(m, ksub) =>
        new VectorIndex(books = codebooks(m, ksub, Array.empty), nCorpus = Some(n))
      case IvfPq(nCells, m, ksub, residual) =>
        val centers = coarse(nCells)
        new VectorIndex(centers, codebooks(m, ksub, if (residual) centers else Array.empty),
          residual, nCorpus = Some(n))
      case Lsh(dim, bits, tables) =>
        new VectorIndex(planes = Array.tabulate(tables)(t => (0 until bits).map { p =>
          val rnd = new java.util.Random((seed + t * 7919L) ^ (p + 1) * 0x9E3779B97F4A7C15L)
          Array.fill(dim)(rnd.nextGaussian())
        }.toArray))
    }
  }

  private def kmeans(features: DataFrame, k: Int, seed: Long): Array[Array[Double]] =
    new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .fit(features).clusterCenters.map(_.toArray)

  /** Read the index persisted under `paths` (each table from the first path
    * holding it, so an IVF half and a PQ half written apart compose). The
    * meta tables are read in full and checked: centroid cells, codebook
    * subspaces and centroid ids, and LSH tables and bits must each be
    * exactly 0..n-1, since searches index them by position — a gap fails
    * here instead of assigning rows to the wrong cells. A missing table
    * leaves its part empty; whatever needs it fails naming the table.
    *
    * The payload is read only beside the meta it was encoded against:
    * `codes` beside the codebooks, `vectors` beside the centroids of an
    * index without codebooks. Cell-partitioned codes also need their
    * centroids from the same path. Flat codes beside centroids read from
    * another path were encoded without cells, so the corpus is re-encoded
    * instead.
    */
  def read(spark: SparkSession, paths: String*): VectorIndex = {
    def fs(p: String) = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    def exists(p: String) = fs(p).exists(new Path(p))
    // (the path holding table t, its rows)
    def table(t: String): Option[(String, Array[Row])] =
      paths.find(p => exists(s"$p/$t/_SUCCESS"))
        .map(p => p -> spark.read.parquet(s"$p/$t").collect())
    def dense(what: String, ids: Seq[Int]): Unit =
      require(ids == ids.indices, s"$what must be 0..${ids.size - 1}, got ${ids.mkString(",")}")
    def nested(d: String, rows: Array[Row], outer: String, inner: String, v: String) = {
      val groups = rows.groupBy(_.getAs[Int](outer)).toSeq.sortBy(_._1)
      dense(s"$outer ids in $d", groups.map(_._1))
      groups.map { case (o, rs) =>
        val sorted = rs.sortBy(_.getAs[Int](inner))
        dense(s"$inner ids of $outer $o in $d", sorted.map(_.getAs[Int](inner)).toSeq)
        sorted.map(_.getAs[Seq[Double]](v).toArray)
      }.toArray
    }
    def has(rows: Array[Row], c: String) = rows.headOption.exists(_.schema.fieldNames.contains(c))

    val centroids = table("centroids")
    val codebooks = table("codebooks")
    val planes = table("planes")
    val centers = centroids.fold(Array.empty[Array[Double]]) { case (p, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("cell"))
      dense(s"centroid cells in $p/centroids", sorted.map(_.getAs[Int]("cell")).toSeq)
      sorted.map(_.getAs[Seq[Double]]("centroid").toArray)
    }
    val stamped = Seq(centroids, codebooks, planes).flatten.map(_._2)
      .find(has(_, "n_corpus")).map(_.head.getAs[Long]("n_corpus"))
    val cellsAt = centroids.map(_._1)
    val home = codebooks.map(_._1 -> "codes").orElse(cellsAt.map(_ -> "vectors"))
    val payload = home.map { case (p, t) => s"$p/$t" }.filter(exists).map(d =>
      Stored(d, fs(d).listStatus(new Path(d)).exists(_.getPath.getName.startsWith("cell="))))
    payload.filter(_.byCell).foreach(s => require(home.map(_._1) == cellsAt,
      s"${s.dir} is partitioned by the cells of the centroids beside it, but the " +
        s"centroids were read from ${cellsAt.getOrElse("no path")}"))
    new VectorIndex(
      centers,
      codebooks.fold(Array.empty[Array[Array[Double]]]) { case (p, rows) =>
        nested(s"$p/codebooks", rows, "subspace", "centroid_id", "centroid") },
      // tables written before the flag existed are direct-coded
      codebooks.exists { case (_, rows) =>
        has(rows, "residual") && rows.head.getAs[Boolean]("residual") },
      planes.fold(Array.empty[Array[Array[Double]]]) { case (p, rows) =>
        nested(s"$p/planes", rows, "tbl", "bit", "plane") },
      stamped,
      payload.filter(_.byCell == centers.nonEmpty),
      paths)
  }

  /** Append one micro-batch's payload rows to the cell-partitioned layout
    * at `path` — `<table>/cell=<c>/batch_id=<b>/`, cell outer (the pruned
    * scan's partition key and the per-cell compaction unit) — as one sink
    * of the [[BatchMarker.ingest]] exactly-once core. `index` is built only
    * when the batch still owes its rows, and an empty batch never builds
    * it.
    */
  private[graft] def append(batch: DataFrame, batchId: Long, path: String, table: String,
      idCol: String, vecCol: String)(index: => VectorIndex): Unit = {
    val sink = BatchMarker.Sink(path, table, s"$path/$table", outer = Some("cell"))
    BatchMarker.ingest(batch, batchId, Seq(sink), skipEmpty = true) { pending =>
      pending.append(sink)(index.payload(batch, idCol, vecCol))
    }
  }
}
