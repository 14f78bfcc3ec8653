package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the performance work in PLANS.md is only
  * durable if the plans KEEP their shape. These assert the load-bearing
  * physical-plan properties at sf0.001 — pushdown reaching the scan,
  * dimension joins broadcasting, and (the big one) a sweep over EVERY
  * registered query asserting no accidental cartesian / nested-loop join
  * outside the two labeled exact-baseline queries.
  */
class PlanInvariantsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"
  // the registry at the tests' own index root
  private lazy val queries =
    SparkEntry.specs(SharedSpark.indexRoot).map(q => q.name -> q.build).toMap

  // A scan's Location prints only its first maxMetadataStringLength (100)
  // characters, and a path under the tests' root can run past the table
  // name that the partition-filter checks look for.
  private def plan(name: String): String = {
    spark.conf.set("spark.sql.maxMetadataStringLength", 1000L)
    try queries(name)(spark, dir).queryExecution.executedPlan.toString()
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  private def available: Boolean = new java.io.File(s"$dir/lineitem.parquet").exists()

  test("s1_scan_project: predicates push down to the parquet scan, schema pruned") {
    assume(available)
    val p = plan("s1_scan_project")
    // the PushedFilters list truncates in toString — assert on its head
    // and on the (untruncated) DataFilters mirror of the range predicate
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushdown section in scan:\n$p")
    assert(p.contains("> 30.0)"), s"quantity filter not in the scan's data filters:\n$p")
    assert(!p.contains("l_comment"), "unprojected column reached the scan schema")
  }

  test("j1_denorm: dimension joins broadcast, fact side never shuffles") {
    assume(available)
    val p = plan("j1_denorm")
    assert(p.contains("BroadcastHashJoin"), s"dim join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled for a dim join:\n$p")
  }

  test("dedup_exact: map-side partial aggregation before the single shuffle") {
    assume(available)
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"), "no hash aggregation")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one hash exchange for a single groupBy:\n$p")
  }

  // queries whose plans legitimately contain a cartesian/nested-loop join:
  //  - dedup_embedding_pairs / ann_cosine_topk: semantically all-pairs
  //    (labeled exact baselines; bucketed alternatives registered)
  //  - ann_lsh_recall / ann_ivf_recall: embed the brute-force baseline to
  //    measure recall against
  //  - ann_ivf_topk: crossJoin(broadcast(centroids)) — rows × nCells, a
  //    bounded broadcast cross, not data × data
  //  - w4_zscore: broadcasts a ONE-ROW stats frame (the documented
  //    alternative to an empty-frame whole-table window)
  //  - dedup_semantic: crossJoin(broadcast(centroids)) — rows × nCells cell
  //    assignment, the same bounded shape as ann_ivf_topk
  //  - dedup_semantic_recall: embeds the exact all-pairs baseline (like the
  //    ann recall gates) plus two one-row count crosses
  //  - text_unigram_lm / text_keywords / curation_mix: broadcast a ONE-ROW
  //    corpus total (total tokens / doc count / weight sum) against the
  //    per-token or per-source frame
  //  - ann_quantized_recall: embeds TWO brute-force baselines (float and
  //    dequantized) to oracle the quantization's ranking loss
  private val allPairsByDesign = Set(
    "dedup_embedding_pairs", "ann_cosine_topk",
    // brute-force cosine over the REAL image-histogram features — the
    // same deliberate verification-grade all-pairs as ann_cosine_topk
    "ann_image_topk",
    "ann_lsh_recall", "ann_ivf_recall", "ann_ivf_topk", "w4_zscore",
    // crossJoin(broadcast(centroids)) cell assignment over the image
    // feature vectors — the same bounded rows × nCells shape as
    // ann_ivf_topk, not data × data
    "ann_image_ivf",
    // embeds the brute-force image baseline to measure recall against,
    // like ann_ivf_recall
    "ann_image_recall",
    // broadcast-eval cross pass BY DESIGN: the eval side is small by
    // definition, so corpus × eval with no shuffle IS the scale plan
    "dedup_contamination_embedding",
    "dedup_semantic", "dedup_semantic_recall", "text_unigram_lm",
    // 1-row V broadcast, the same scalar cross join as text_unigram_lm
    "text_bigram_lm",
    "text_keywords",
    // shares text_keywords' head: the 1-row count broadcast cross join is a
    // scalar broadcast, not an all-pairs
    "text_keywords_topk",
    "curation_mix",
    // same 1-row weight-sum broadcast cross as curation_mix
    "curation_mix_temp",
    // two scalar broadcasts (total demand, leftover slots) crossing the
    // HOST-cardinality table — tiny × 1, never data × data
    "pipeline_crawl_budget",
    "ann_quantized_recall",
    // the n_total scalar (1-row count broadcast) rides a cross join, same
    // shape as curation_mix; the candidate join itself is a broadcast
    // equi-join on the ≤ k sketch survivors
    "text_heavy_hitters",
    // 1-row × 1-row scalar cross (before/after token totals)
    "bpe_gate",
    // 1-row percentile-threshold frame broadcast back over the decoded
    // stats — the data-derived quality cuts, same scalar shape as
    // w4_zscore
    "multimodal_quality", "multimodal_audio_quality",
    "multimodal_video_quality",
    // 1-row warm-vs-cold proximity gate broadcast onto the published
    // ranks — the pinned-TRUE recall-gate cross, scalar by construction
    "pipeline_crawl_refresh",
    // embeds the same two brute-force baselines as ann_quantized_recall
    "ann_truncated_recall",
    // the PQ ADC pass is a DELIBERATE q×N linear scan — over m-byte codes,
    // not vectors: the compression is the scale story, not candidate
    // pruning (compose with IVF cells for that)
    "ann_pq_topk", "ann_pq_recall",
    // cells ⨝ probes is a keyed join, but assignment shares IVF's
    // broadcast-centroid scalar cross join
    "ann_ivfpq_topk", "ann_ivfpq_recall",
    // 1-row N/avgdl stats broadcast rides a cross join (the postings ⨝
    // query-terms scoring join itself is a broadcast equi-join)
    "text_bm25_topk",
    // same scorer over the batch-union index tables
    "text_bm25_incremental",
    // same scalar cross as text_bm25_topk, over the partitioned layout
    "text_bm25_pruned",
    // same scalar cross, over the streamed accumulation
    "text_bm25_streamed",
    // same BM25 scalar cross + the deliberate brute-force cosine arm
    "hybrid_rrf_topk",
    // brute-force shortlist arm feeding the MMR re-rank
    "ann_mmr_topk",
    // unigram-LM scalar cross (as text_unigram_lm) + 1-row tercile cuts
    "curation_ccnet_buckets",
    // 1-row totals + 1-row percentile-threshold scalar crosses
    "curation_dsir",
    // broadcast-centroid scalar cross, the IVF assignment shape
    "curation_cluster_balance",
    // query-side broadcast-centroid scalar cross (the corpus side reads
    // stored assignments from the partitioned index — no corpus cross)
    "ann_ivf_pruned",
    // same query-side centroid cross over the partitioned IMAGE index
    "ann_image_pruned",
    // same query-side centroid cross; codes come pre-assigned from the
    // partitioned package, true vectors only for the re-rank shortlist
    "ann_ivfpq_pruned",
    // same query-side centroid cross as ann_ivf_pruned, over the STREAMED
    // accumulation (stored assignments read from cell=/batch_id= dirs)
    "ann_ivf_streamed",
    // identical shape over the streamed IMAGE-feature accumulation
    "ann_image_streamed",
    // same query-side centroid cross as ann_ivfpq_pruned over the
    // streamed codes package
    "ann_ivfpq_streamed")

  test("curation_mix: document table is never shuffled (map-side hash filter)") {
    assume(available)
    val p = plan("curation_mix")
    // allowed exchanges: the per-source totals aggregation (+ AQE artifacts)
    // and broadcasts — but no hashpartitioning of the full document relation
    // by doc_id/source for the final join, which must be broadcast
    assert(p.contains("BroadcastHashJoin"), s"mix join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"document table shuffled for the mix join:\n$p")
  }

  test("pack_chunks: exactly one exchange (the per-source window)") {
    assume(available)
    val p = plan("pack_chunks")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one hash exchange for a single window:\n$p")
    assert(p.contains("Window"), "no window operator in the packing plan")
  }

  test("text_pos_tags: map-side partial aggregation; the explode never shuffles raw tokens twice") {
    assume(available)
    val p = plan("text_pos_tags")
    assert(p.contains("HashAggregate") && p.contains("Generate"),
      s"expected explode + hash aggregation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one hash exchange for a single groupBy:\n$p")
  }

  test("text_bm25_pruned: the postings scan carries a tok_bucket " +
      "PartitionFilter — the search reads only the query terms' buckets") {
    assume(available)
    val p = plan("text_bm25_pruned")
    val scanLine = p.linesIterator
      .find(l => l.contains("postings") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned postings scan in the plan:\n$p"))
    assert(scanLine.contains("tok_bucket") &&
        !scanLine.contains("PartitionFilters: []"),
      s"postings scan has no tok_bucket partition filter:\n$scanLine")
  }

  test("text_bm25_streamed: the streamed postings scan still carries a " +
      "tok_bucket PartitionFilter — accumulation does not cost the prune") {
    assume(available)
    val p = plan("text_bm25_streamed")
    val scanLine = p.linesIterator
      .find(l => l.contains("postings") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned postings scan in the plan:\n$p"))
    assert(scanLine.contains("tok_bucket") &&
        !scanLine.contains("PartitionFilters: []"),
      s"streamed postings scan has no tok_bucket partition filter:\n$scanLine")
  }

  test("ann_ivf_pruned: the vectors scan carries a cell PartitionFilter — " +
      "the search reads only the probed cells' directories") {
    assume(available)
    val p = plan("ann_ivf_pruned")
    val scanLine = p.linesIterator
      .find(l => l.contains("vectors") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned vectors scan in the plan:\n$p"))
    assert(scanLine.contains("cell") &&
        !scanLine.contains("PartitionFilters: []"),
      s"vectors scan has no cell partition filter:\n$scanLine")
  }

  test("ann_image_pruned: the image-feature vectors scan carries a cell " +
      "PartitionFilter — the search reads only the probed cells") {
    assume(available)
    val p = plan("ann_image_pruned")
    val scanLine = p.linesIterator
      .find(l => l.contains("vectors") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned vectors scan in the plan:\n$p"))
    assert(scanLine.contains("cell") &&
        !scanLine.contains("PartitionFilters: []"),
      s"vectors scan has no cell partition filter:\n$scanLine")
  }

  test("etl_upsert_asof: the time-travel read carries a batch_id " +
      "PartitionFilter — only the surviving early log dirs are scanned") {
    assume(available)
    val p = plan("etl_upsert_asof")
    val scanLine = p.linesIterator
      .find(l => l.contains("/log") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned log scan in the plan:\n$p"))
    assert(scanLine.contains("batch_id") &&
        !scanLine.contains("PartitionFilters: []"),
      s"log scan has no batch_id partition filter:\n$scanLine")
  }

  test("etl_upsert_changes: delta-shaped incremental read — every log " +
      "scan is batch_id-pruned and the log is semi-joined on touched " +
      "keys, never snapshot-resolved in full") {
    assume(available)
    val p = plan("etl_upsert_changes")
    assert(p.contains("LeftSemi"),
      s"no touched-key semi-join — full-snapshot diff is back:\n$p")
    val logScans = p.linesIterator
      .filter(l => l.contains("/log") && l.contains("PartitionFilters"))
      .toList
    assert(logScans.nonEmpty, s"no partitioned log scan in the plan:\n$p")
    assert(logScans.forall(l =>
        l.contains("batch_id") && !l.contains("PartitionFilters: []")),
      s"a log scan lost its batch_id partition filter (full-log " +
        s"resolve):\n${logScans.mkString("\n")}")
  }

  test("etl_upsert_cdc: the published feed plan carries NO log scans — " +
      "each endpoint resolved exactly once into a materialized frame") {
    assume(available)
    val p = plan("etl_upsert_cdc")
    // the three image legs join the checkpointed endpoints (LogicalRDDs),
    // never re-resolving the changelog; the delta shape of the resolve
    // itself is pinned via etl_upsert_changes above and the
    // deltaEndpoints assertions in UpsertIngestSpec
    assert(!p.contains("/log"),
      s"the feed plan re-resolves the changelog:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"no materialized endpoint frames in the feed plan:\n$p")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"the image-split legs are missing:\n$p")
  }

  test("ann_ivfpq_pruned: the codes scan carries a cell PartitionFilter — " +
      "ADC reads only the probed cells' code files") {
    assume(available)
    val p = plan("ann_ivfpq_pruned")
    val scanLine = p.linesIterator
      .find(l => l.contains("codes") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned codes scan in the plan:\n$p"))
    assert(scanLine.contains("cell") &&
        !scanLine.contains("PartitionFilters: []"),
      s"codes scan has no cell partition filter:\n$scanLine")
  }

  test("warc_cdx_pruned: the capture-index scan carries a host_bucket " +
      "PartitionFilter — a host lookup never reads the other buckets") {
    assume(available)
    val p = plan("warc_cdx_pruned")
    val scanLine = p.linesIterator
      .find(l => l.contains("cdx") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned cdx scan in the plan:\n$p"))
    assert(scanLine.contains("host_bucket") &&
        !scanLine.contains("PartitionFilters: []"),
      s"cdx scan has no host_bucket partition filter:\n$scanLine")
  }

  test("ann_ivfpq_streamed: the streamed codes scan carries a cell " +
      "PartitionFilter — streamed accumulation does not cost the prune") {
    assume(available)
    val p = plan("ann_ivfpq_streamed")
    val scanLine = p.linesIterator
      .find(l => l.contains("codes") && l.contains("PartitionFilters"))
      .getOrElse(fail(s"no partitioned codes scan in the plan:\n$p"))
    assert(scanLine.contains("cell") &&
        !scanLine.contains("PartitionFilters: []"),
      s"streamed codes scan has no cell partition filter:\n$scanLine")
  }

  test("dynamic partition pruning: a round-partitioned write is pruned at " +
      "join time by a filtered dim (SURVEY §4's 'round becomes a partition " +
      "column → DPP free')") {
    assume(available)
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toFile
    tmp.deleteOnExit()
    val path = tmp.getAbsolutePath + "/orders_by_round"
    graft.sources.Tables.load(spark, dir, "orders")
      .withColumn("round", (pmod(col("o_orderkey"), lit(4)) + 1).cast("int"))
      .write.partitionBy("round").mode("overwrite").parquet(path)

    // dim filter on a NON-join attribute: the surviving round values are
    // unknowable at plan time, so only runtime pruning can skip partitions
    val dim = graft.sources.Tables.load(spark, dir, "region")
      .filter(col("r_name") === "ASIA")
      .select((col("r_regionkey") + 1).cast("int").as("round"))
    val joined = spark.read.parquet(path).join(dim, Seq("round"))
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.contains("dynamicpruning"),
      s"no dynamic-pruning subquery in the partitioned join's scan:\n$p")
    // and the pruning actually executes: exactly one of the four round
    // partitions survives
    assert(joined.select(col("round")).distinct().count() === 1)
  }

  test("etl_clean_outputs: the corpus-proportional metadata side is not " +
      "force-broadcast (AQE may still choose broadcast at test scale)") {
    assume(available)
    // the logical plan must carry no user broadcast hint on the enrichment
    // join — one row per identified output is corpus-proportional, and a
    // forced broadcast is an OOM at 100× scale. AQE picking broadcast from
    // MEASURED sizes at sf0.001 is fine; the hint is what's banned.
    val lp = queries("etl_clean_outputs")(spark, dir)
      .queryExecution.analyzed.toString()
    assert(!lp.contains("UnresolvedHint") && !lp.toLowerCase.contains("hint=(strategy=broadcast"),
      s"forced broadcast hint on the corpus-side join:\n$lp")
    assert(!lp.contains("ResolvedHint"),
      s"forced join-strategy hint in etl_clean_outputs:\n$lp")
  }

  test("warc_robots_gate: the policy table broadcasts; pages shuffle only for the output sort") {
    assume(available)
    // the per-host policy table is small-by-definition (one row per host
    // policy) — at 100 TB the page scan must stay map-side through the
    // gate: a hash-partitioned exchange of the pages here would be a
    // full-corpus shuffle for a broadcast-sized right side
    val p = plan("warc_robots_gate")
    assert(p.contains("BroadcastHashJoin"), s"policy join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"policy join sort-merged:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"page side shuffled before the gate:\n$p")
  }

  test("pipeline_crawl_polite / pipeline_crawl_schedule: NO archive scan — " +
      "candidates and ranks both come from the persisted crawl index " +
      "(listing-keyed), so a scheduling decision never re-parses the corpus") {
    assume(available)
    Seq("pipeline_crawl_polite", "pipeline_crawl_schedule").foreach { name =>
      val p = plan(name)
      // the WARC fixture reads through the binaryFile source; its absence
      // is exactly "no corpus pass in the scheduling plan" — the cache
      // key is a file listing, computed before the plan is built
      assert(!p.contains("binaryFile"),
        s"$name re-parses the archive (binaryFile scan in the plan):\n$p")
      assert(p.contains("Scan parquet"),
        s"$name reads no persisted crawl-index table:\n$p")
    }
  }

  test("pipeline_crawl_change_rate: the published tail is a broadcast self-join " +
      "over the checkpointed latest-digest frame — no sorts beyond the output order") {
    assume(available)
    // the latest-per-key aggregation materializes behind the eager
    // localCheckpoint, so the published plan starts at the tiny frame;
    // the tail must stay a broadcast join with no SortAggregate
    val p = plan("pipeline_crawl_change_rate")
    assert(!p.contains("SortAggregate"),
      s"string-valued agg buffer fell back to SortAggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"snapshot self-join did not broadcast:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"checkpoint boundary missing — archive re-parse leaked into the tail:\n$p")
  }

  test("warc_main_content: blocks explode to rows (Generate), reassembly is one " +
      "grouping exchange") {
    assume(available)
    val p = plan("warc_main_content")
    assert(p.contains("Generate"), s"no posexplode in the block plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one hash exchange for the per-doc reassembly:\n$p")
  }

  test("warc_revisit_dedup: digest grouping is one partial+final hash-agg chain, " +
      "payload bytes never shuffle") {
    assume(available)
    val p = plan("warc_revisit_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"more than one hash exchange for the digest grouping:\n$p")
    // the exchange keys on the 128-bit digest (payload_md5), never on the
    // payload byte column itself (which would print as `payload#NN`)
    assert(p.contains("Exchange hashpartitioning(payload_md5"),
      s"digest grouping exchange missing:\n$p")
    assert(!"hashpartitioning\\(payload#".r.findFirstIn(p).isDefined,
      s"payload bytes crossed the shuffle:\n$p")
  }

  test("no accidental cartesian/nested-loop join anywhere in the query surface; " +
      "no top-level Array/Map/Struct output column (driver-compare contract)") {
    assume(available)
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val crossOffenders = Seq.newBuilder[String]
    val nestedOffenders = Seq.newBuilder[String]
    queries.keys.toSeq.sorted.foreach { name =>
      val df =
        try queries(name)(spark, dir)
        catch { case e: Throwable => fail(s"$name failed to build: ${e.getMessage}") }
      // the adjudicating harness sorts result rows by every column before
      // hashing — a top-level array/map/struct is unsortable there
      // (unhashable ndarray), so the registry's output contract is
      // scalars-only; scalarize with array_join/md5/size instead
      val nested = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => f.name
      }
      if (nested.nonEmpty) nestedOffenders += s"$name(${nested.mkString(",")})"
      if (!allPairsByDesign(name)) {
        val p =
          try df.queryExecution.executedPlan.toString()
          catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          crossOffenders += name
      }
      spark.catalog.clearCache() // dedup queries persist intermediates
    }
    assert(crossOffenders.result().isEmpty,
      s"queries planning an all-pairs join that should not: ${crossOffenders.result()}")
    assert(nestedOffenders.result().isEmpty,
      s"queries emitting non-scalar top-level columns: ${nestedOffenders.result()}")
  }

  private def interactiveQueries: List[String] = {
    val src = scala.io.Source.fromFile("perfbench/interactive_queries.txt", "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  // The benchmark's `interactive` list: every input here is one small file
  // (or a frame built from one), so with the small-input planning rules
  // (`SmallInputPlanning`) no query samples range bounds for its output
  // sort. The check reads the final adaptive plan, after the run.
  test("small inputs: no interactive query plans a range shuffle") {
    assume(available)
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    val names = interactiveQueries
    assert(names.size === 20)
    val ranged = names.filter { n =>
      val df = queries(n)(spark, dir)
      graft.tools.TimedRun.once(spark)(df).orThrow
      helper.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.nonEmpty
    }
    assert(ranged.isEmpty, s"queries whose final plan still has a range shuffle: $ranged")
  }

  // Compile-reuse invariant: a warm run of a registry query compiles no new
  // generated code. Four faults break it. A per-iteration value inlined as
  // a literal (`lit(total)`) makes every run's code new. A working set
  // larger than Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
  // sized in GraftSession) evicts in LRU order, so a sweep of queries
  // recompiles on every pass. A plan that AQE settles differently from run
  // to run (a join whose strategy depends on which side's shuffle finished
  // first) compiles each variant the first time it shows up. Spark's
  // rewrite of several `countDistinct`s in one aggregation orders the
  // columns by a hash of their expression ids, so a rebuilt query can plan
  // them in another order (`QueryCommon.countDistincts` fixes the order).
  // The queries run as three passes in one session, and each query's third
  // run must add 0 to Spark's compile count (`CodegenMetrics`, as
  // GraphSpec's hits test counts it). They are the benchmark's `interactive`
  // list (the notebook analyst's small queries); the iterative graph and
  // crawl kernels, which run a fixed budget of rounds and so would compile
  // per round if a round's value reached the code; the three queries that
  // count several distinct columns; and `events_retention`, whose join
  // raced.
  test("compile reuse: the third pass over the interactive list and the " +
      "iterative graph queries compiles no new code") {
    assume(available)
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val interactive = interactiveQueries
    val names = interactive ++ Seq("graph_components", "graph_hits",
      "graph_pagerank", "graph_lpa", "pipeline_crawl_refresh",
      "pipeline_crawl_trap_score", "warc_main_dedup", "warc_canonical_dedup",
      "events_retention")
    assert(interactive.size === 20 && names.forall(queries.contains))
    val passes = (1 to 3).map { _ =>
      names.map { n =>
        val c0 = METRIC_COMPILATION_TIME.getCount
        graft.tools.TimedRun.once(spark)(queries(n)(spark, dir)).orThrow
        n -> (METRIC_COMPILATION_TIME.getCount - c0)
      }
    }
    val recompiled = passes(2).filter(_._2 > 0)
    assert(recompiled.isEmpty,
      "warm runs compiled new code (query: compiles on passes 1, 2, 3):\n" +
        recompiled.map { case (n, _) =>
          s"  $n: ${passes.map(_.toMap.apply(n)).mkString(", ")}"
        }.mkString("\n"))
  }
}
