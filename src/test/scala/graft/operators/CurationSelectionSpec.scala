package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The corpus-selection operators added with the retrieval round: CCNet
  * perplexity buckets, DSIR importance weights, cluster-balanced sampling.
  */
class CurationSelectionSpec extends SparkSpec {
  import spark.implicits._

  test("ccnetBuckets: thirds are ordered head ≤ middle ≤ tail by avg_nll") {
    // 9 docs with clearly separated LM scores: 3 made of corpus-frequent
    // tokens (low NLL), 3 mixed, 3 of hapax tokens (high NLL)
    val docs = (1L to 3L).map(i => (i, "the the the the"))
      .++((4L to 6L).map(i => (i, s"the the rare$i mid$i")))
      .++((7L to 9L).map(i => (i, s"u$i v$i w$i x$i")))
      .toDF("doc_id", "text")
    val b = Curation.ccnetBuckets(docs, "text", "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Double]("avg_nll"), r.getAs[String]("bucket")))
    val byBucket = b.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    assert(byBucket("head").size === 3 && byBucket("tail").size === 3)
    assert(b.filter(_._3 == "head").map(_._1).toSet === Set(1L, 2L, 3L))
  }

  test("dsirLogWeights: docs sharing the target's bigrams outrank the rest") {
    // target slice (is_target) is built from wiki-ish bigrams; candidate 10
    // repeats those bigrams, candidate 11 shares nothing with the target
    val docs = Seq(
      (1L, true, "alpha beta gamma delta"),
      (2L, true, "alpha beta gamma delta"),
      (3L, true, "alpha beta epsilon zeta"),
      (10L, false, "alpha beta gamma delta"),
      (11L, false, "noise junk clutter static"),
      (12L, false, "noise junk alpha beta"))
      .toDF("doc_id", "is_target", "text")
    val w = Curation.dsirLogWeights(docs, "text", "doc_id",
        isTarget = col("is_target"), keepQuantile = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("log_w"), r.getAs[Boolean]("selected"))).toMap
    assert(w(10L)._1 > w(11L)._1) // pure target-vocab doc beats pure noise
    assert(w(12L)._1 > w(11L)._1 && w(12L)._1 < w(10L)._1) // mixed in between
    assert(w(10L)._2 && !w(11L)._2)
    // every doc with >= 2 tokens is scored
    assert(w.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("dsirLogWeights drops docs with fewer than two tokens") {
    val docs = Seq((1L, "solo"), (2L, "two tokens here"))
      .toDF("doc_id", "text")
    val w = Curation.dsirLogWeights(docs, "text", "doc_id",
      isTarget = lit(true))
    assert(w.collect().map(_.getAs[Long]("doc_id")).toSet === Set(2L))
  }

  test("clusterBalancedSample: nearest-centroid assignment, per-cell cap") {
    val dir = java.nio.file.Files.createTempDirectory("cbs").toString
    // two well-separated centroids on the x-axis
    Seq((0, Array(-10.0, 0.0)), (1, Array(10.0, 0.0)))
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // 6 vectors near cell 0, 2 near cell 1
    val emb = ((1L to 6L).map(i => (i, Array(-10.0f + i * 0.1f, 1.0f)))
      ++ Seq((7L, Array(9.5f, 0.0f)), (8L, Array(10.5f, -1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(VectorIndex.read(spark, dir), emb, cap = 4)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cell"), r.getAs[Long]("cell_rank"),
          r.getAs[Boolean]("kept"))).toMap
    assert((1L to 6L).forall(out(_)._1 === 0))
    assert(out(7L)._1 === 1 && out(8L)._1 === 1)
    // cell 0 keeps exactly cap of its 6; cell 1 keeps both
    assert((1L to 6L).count(out(_)._3) === 4)
    assert(out(7L)._3 && out(8L)._3)
    // ranks are dense 1..n within each cell
    assert((1L to 6L).map(out(_)._2).sorted === (1L to 6L))
  }
}
