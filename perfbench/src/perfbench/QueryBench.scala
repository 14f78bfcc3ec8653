package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query as a client issues it — build the DataFrame, plan it,
  * execute every output row (`toRdd.count`, the registry bench's execution,
  * or a parquet write of the result). The caller drops whatever the query
  * cached with [[cleanup]], off the clock.
  */
object QueryBench {
  /** `rows` is the `toRdd.count`; a written result is counted by the oracle check. */
  final case class Exec(rows: Option[Long], constructS: Double, planS: Double, execS: Double)

  /** The heavy registry queries the traced run times as the `operators`
    * layer. Left out, because they build index directories under `/tmp`
    * (outside the benchmark's checkout) through `ensureIndex`:
    * `ann_ivfpq_topk`, `text_bm25_topk`, `graph_hits`,
    * `graph_pagerank_incremental`, `graph_components_incremental` and
    * `pipeline_crawl_refresh`.
    */
  val operators: Seq[String] = Seq("dedup_video_pairs", "dedup_keep_best", "dedup_clusters",
    "dedup_semantic_recall", "ann_pq_recall", "pipeline_e2e", "curation_split_grouped",
    "classifier_gate", "etl_visitor_project_distributed")

  /** `span` names the spans: `span`, `span.construct`, `span.plan`, `span.exec`.
    * With `out` the execution writes the result there as parquet; the write
    * plans its own command, so there is no separate plan span and `planS` is 0.
    */
  def run(spark: SparkSession, dir: String, name: String, trace: Tracer, op: Int,
      span: String, out: Option[String] = None): Exec = {
    val fn = graft.SparkEntry.queries(name)
    trace.span(span, op) {
      val t0 = System.nanoTime()
      val df: DataFrame = trace.span(s"$span.construct", op)(fn(spark, dir))
      val t1 = System.nanoTime()
      if (out.isEmpty) trace.span(s"$span.plan", op)(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val n = trace.span(s"$span.exec", op)(out match {
        case Some(p) => df.write.mode("overwrite").parquet(p); None
        case None    => Some(df.queryExecution.toRdd.count())
      })
      val t3 = System.nanoTime()
      Exec(n, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
  }

  /** Drop what a query cached or checkpointed, so the next one is not timed
    * against its blocks (the registry bench does the same between queries).
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
