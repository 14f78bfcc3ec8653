package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox and the lazy dog ran over a hill", "srcA"),
    (2L, "a b", "srcA"),
    (3L, "supercalifragilisticexpialidocious antidisestablishmentarianism floccinaucinihilipilification", "srcB"),
    (4L, "the data and the plan and the scan and the hash and a key", "srcB"))
    .toDF("doc_id", "text", "source")

  test("hashFraction is deterministic and uniform-ish in [0,1)") {
    val fracs = spark.range(0, 1000)
      .select(Curation.hashFraction(col("id")).as("f"))
      .as[Double].collect()
    assert(fracs.forall(f => f >= 0.0 && f < 1.0))
    // same key -> same fraction on recompute
    val again = spark.range(0, 1000)
      .select(Curation.hashFraction(col("id")).as("f"))
      .as[Double].collect()
    assert(fracs.sameElements(again))
    // crude uniformity: a quarter-split lands near 250
    val below = fracs.count(_ < 0.25)
    assert(below > 150 && below < 350, s"got $below below 0.25")
  }

  test("sampleByHash keeps a stable subset of the expected size") {
    val big = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    val n = Curation.sampleByHash(big, "doc_id", 0.5).count()
    assert(n > 800 && n < 1200, s"got $n of 2000 at fraction 0.5")
    // subset property: a smaller fraction's sample is contained in a larger's
    val small = Curation.sampleByHash(big, "doc_id", 0.1)
    val large = Curation.sampleByHash(big, "doc_id", 0.5)
    assert(small.exceptAll(large).count() === 0)
  }

  test("weightedSample: inclusion tracks weight, deterministic, top-k plan") {
    // 500 heavy (w=10) + 500 light (w=1): ES inclusion odds ~10:1, so a
    // 200-sample is dominated by heavy rows (expectation ~183 vs ~17)
    val rows = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        when(col("id") < 500, 10.0).otherwise(1.0).as("w"))
    val sample = Curation.weightedSample(rows, "doc_id", col("w"), k = 200)
    val heavy = sample.filter(col("doc_id") < 500).count()
    assert(heavy > 150 && heavy <= 200, s"heavy rows in sample: $heavy of 200")

    // pure function of the data: same selection on recompute
    val again = Curation.weightedSample(rows, "doc_id", col("w"), k = 200)
    assert(sample.select("doc_id").exceptAll(again.select("doc_id")).count() === 0)

    // the global top-k plans as TakeOrderedAndProject, not a global sort
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  test("stratifiedSplit hits exact per-stratum proportions, deterministically") {
    val corpus = spark.range(0, 1000)
      .select(col("id").as("doc_id"),
        when(col("id") < 700, "big").otherwise("small").as("source"))
    val split = Curation.stratifiedSplit(corpus, "doc_id", "source",
      testFrac = 0.1, valFrac = 0.2)

    // exact counts per stratum: floor(700*0.1)=70 test, floor(700*0.3)-70=140
    // val; floor(300*0.1)=30 test, floor(300*0.3)-30=60 val
    val counts = split.groupBy("source", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("big", "test")) === 70L)
    assert(counts(("big", "val")) === 140L)
    assert(counts(("big", "train")) === 490L)
    assert(counts(("small", "test")) === 30L)
    assert(counts(("small", "val")) === 60L)
    assert(counts(("small", "train")) === 210L)

    // every row labeled, nothing dropped or duplicated
    assert(split.count() === 1000L)

    // pure function of the data: identical assignment on recompute
    val again = Curation.stratifiedSplit(corpus, "doc_id", "source", 0.1, 0.2)
      .select("doc_id", "split")
    assert(split.select("doc_id", "split").exceptAll(again).count() === 0)

    // one shuffle: the rank and count windows share the stratum exchange
    val exchanges = split.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges")

    // tiny-stratum edges, exact floor-cut semantics: 4 rows fund nothing
    // (floor(4·0.1) = floor(4·0.2) = 0 → all train, nothing dropped);
    // 5 rows fund a val row but no test row (floor(5·0.1)=0, floor(5·0.2)=1)
    val tiny4 = spark.range(0, 4)
      .select(col("id").as("doc_id"), lit("t").as("source"))
    val s4 = Curation.stratifiedSplit(tiny4, "doc_id", "source", 0.1, 0.1)
    assert(s4.count() === 4)
    assert(s4.filter(col("split") =!= "train").count() === 0)
    val tiny5 = spark.range(0, 5)
      .select(col("id").as("doc_id"), lit("t").as("source"))
    val s5 = Curation.stratifiedSplit(tiny5, "doc_id", "source", 0.1, 0.1)
    assert(s5.filter(col("split") === "test").count() === 0)
    assert(s5.filter(col("split") === "val").count() === 1)
    assert(s5.filter(col("split") === "train").count() === 4)
  }

  test("stratifiedSplit auto-falls-back to the map-only hash split for a " +
      "stratum above exactMaxRows — no single-task window over the giant") {
    val corpus = spark.range(0, 600)
      .select(col("id").as("doc_id"),
        when(col("id") < 500, "giant").otherwise("small").as("source"))
    val split = Curation.stratifiedSplit(corpus, "doc_id", "source",
      testFrac = 0.2, valFrac = 0.2, exactMaxRows = 100L)

    // nothing dropped or duplicated across the two branches
    assert(split.count() === 600L)
    assert(split.select("doc_id").distinct().count() === 600L)

    // the small stratum keeps the exact-count contract: ranks 1..100,
    // floor(100*0.2)=20 test / 20 val / 60 train
    val small = split.filter(col("source") === "small")
    assert(small.filter(col("split") === "test").count() === 20L)
    assert(small.filter(col("split") === "val").count() === 20L)
    assert(small.agg(max("split_rank")).first().getLong(0) === 100L)

    // the giant stratum was never ranked (split_rank NULL — the proof its
    // rows bypassed the window) but still reports its true size, and its
    // assignment IS the hashFraction threshold, row for row
    val giant = split.filter(col("source") === "giant")
    assert(giant.filter(col("split_rank").isNotNull).count() === 0L)
    assert(giant.filter(col("n_stratum") =!= 500L).count() === 0L)
    val expected = corpus.filter(col("source") === "giant")
      .select(col("doc_id"),
        when(Curation.hashFraction(col("doc_id")) < 0.2, "test")
          .when(Curation.hashFraction(col("doc_id")) < 0.4, "val")
          .otherwise("train").as("split"))
    assert(giant.select("doc_id", "split").exceptAll(expected).count() === 0L)

    // pure function of the data: identical assignment on recompute
    val again = Curation.stratifiedSplit(corpus, "doc_id", "source",
      0.2, 0.2, exactMaxRows = 100L).select("doc_id", "split")
    assert(split.select("doc_id", "split").exceptAll(again).count() === 0L)

    // default threshold (10M) leaves the exact path untouched: same rows
    // as an explicit giant-free run, split_rank non-null everywhere
    val dflt = Curation.stratifiedSplit(corpus, "doc_id", "source", 0.2, 0.2)
    assert(dflt.filter(col("split_rank").isNull).count() === 0L)
  }

  test("stratifiedSplit with 1k giant strata plans a broadcast join, not a " +
      "kilo-node expression chain — and matches the chain's semantics") {
    // 1000 strata of 2 rows each, all giant at exactMaxRows=1, plus one
    // 1-row stratum that must keep the exact path, plus a NULL-keyed
    // giant stratum (null-safe membership through the join)
    val corpus = spark.range(0, 2000)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 1000).cast("string")).as("source"))
      .unionByName(spark.range(2000, 2001)
        .select(col("id").as("doc_id"), lit("lonely").as("source")))
      .unionByName(spark.range(2001, 2003)
        .select(col("id").as("doc_id"), lit(null).cast("string").as("source")))
    val split = Curation.stratifiedSplit(corpus, "doc_id", "source",
      testFrac = 0.2, valFrac = 0.2, exactMaxRows = 1L)

    // planning stays sane: membership is a JOIN above the giant cutoff
    // (the chain form would fold 1001 when/|| nodes into one predicate)
    assert(split.queryExecution.analyzed.toString.contains("Join"))
    assert(split.count() === 2003L)
    assert(split.select("doc_id").distinct().count() === 2003L)
    // every giant row bypassed the window and reports its true size
    val giants = split.filter(col("source").isNull || col("source") =!= "lonely")
    assert(giants.filter(col("split_rank").isNotNull).count() === 0L)
    assert(giants.filter(col("n_stratum") =!= 2L).count() === 0L)
    // the lone sub-threshold stratum kept the exact-count contract
    val lone = split.filter(col("source") === "lonely").collect()
    assert(lone.length === 1 && lone.head.getAs[Long]("split_rank") === 1L)
    // assignment identical to the chain form (tiny giant set forces it)
    val chain = Curation.stratifiedSplit(
        corpus.filter(col("source").isNull), "doc_id", "source", 0.2, 0.2,
        exactMaxRows = 1L)
      .select("doc_id", "split")
    val joinForm = split.filter(col("source").isNull).select("doc_id", "split")
    assert(joinForm.exceptAll(chain).count() === 0L)
  }

  test("perSourceCap keeps at most cap rows per source, ranks from 1") {
    val capped = Curation.perSourceCap(docs, "doc_id", "source", cap = 1)
    val bySource = capped.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource.values.forall(_ <= 1))
    assert(capped.select(min(col("sample_rank"))).as[Long].head() === 1L)
  }

  test("perSourceCapViaTopKAgg is row-identical to the window form") {
    val window = Curation.perSourceCap(docs, "doc_id", "source", cap = 2)
      .select(col("doc_id"), col("source"), col("sample_rank"))
    val heap = Curation.perSourceCapViaTopKAgg(docs, "doc_id", "source", cap = 2)
    assert(heap.exceptAll(window).count() === 0)
    assert(window.exceptAll(heap).count() === 0)
    // the heap really is in the plan: an ObjectHashAggregate over
    // smallest_k, not a window sort
    assert(heap.queryExecution.executedPlan.toString.contains("smallest_k"))
  }

  test("gopherFlags measurements and rule conjunction") {
    val flags = Curation.gopherFlags(docs, "text", "doc_id",
      stopwords = Seq("the", "a", "and"), minWords = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(flags(1L).getAs[Long]("n_words") === 12L)
    assert(flags(1L).getAs[Boolean]("quality_pass"))
    // doc 2: too few words
    assert(!flags(2L).getAs[Boolean]("flag_word_count"))
    assert(!flags(2L).getAs[Boolean]("quality_pass"))
    // doc 3: mean word length way over 10, no stopwords
    assert(!flags(3L).getAs[Boolean]("flag_mean_word_len"))
    assert(!flags(3L).getAs[Boolean]("flag_stopwords"))
    // alpha ratio is 1.0 for plain words
    assert(flags(1L).getAs[Double]("alpha_ratio") === 1.0)
  }

  test("gopherPass column is row-identical to gopherFlags' quality_pass") {
    val docs = Seq(
      (1L, "the quick brown fox and the dog ran over a hill today", "s"),
      (2L, "x", "s"), (3L, "a b", "s"),
      (4L, "the data and the plan and the scan and a key here now", "s"))
      .toDF("doc_id", "text", "source")
    val viaFlags = Curation.gopherFlags(docs, "text", "doc_id",
        stopwords = Seq("the", "a", "and"), minWords = 5)
      .select(col("doc_id"), col("quality_pass"))
    val viaColumn = docs.select(col("doc_id"),
      Curation.gopherPass(col("text"),
        stopwords = Seq("the", "a", "and"), minWords = 5).as("quality_pass"))
    assert(viaFlags.exceptAll(viaColumn).count() === 0)
    assert(viaColumn.exceptAll(viaFlags).count() === 0)
  }

  test("repeatedSpanStats counts corpus-repeated spans per doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta other words here"),
      (3L, "alpha beta gamma delta closing line now"),
      (4L, "nothing shared with the others at all"))
      .toDF("doc_id", "text")
    val stats = Curation.repeatedSpanStats(corpus, "text", "doc_id", n = 4, minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "alpha beta gamma delta" appears in 3 docs -> each gets 1 dup span
    assert(stats(1L)._2 === 1L)
    assert(stats(2L)._2 === 1L)
    assert(stats(3L)._2 === 1L)
    assert(stats(4L)._2 === 0L)
    // n_spans = tokens - 3 for docs with >= 4 tokens
    assert(stats(1L)._1 === 3L)
  }

  test("unigramLmScore: common-token docs score low, rare-token docs high") {
    val corpus = Seq(
      (1L, "common common common common"),
      (2L, "common common common rare"),
      (3L, "common common unique1 unique2"))
      .toDF("doc_id", "text")
    val scored = Curation.unigramLmScore(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    // 12 tokens total: common ×9, rare ×1, unique1/unique2 ×1 each
    assert(scored(1L).getAs[Long]("n_tokens") === 4L)
    assert(scored(1L).getAs[Long]("min_tf") === 9L)
    assert(scored(2L).getAs[Long]("min_tf") === 1L)
    // doc 1 is all-common -> avg_nll = -ln(9/12) exactly
    val expected = BigDecimal(-math.log(9.0 / 12.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored(1L).getAs[Double]("avg_nll") === expected)
    // rarer tokens -> strictly higher surprise
    assert(scored(3L).getAs[Double]("avg_nll") >
      scored(2L).getAs[Double]("avg_nll"))
    assert(scored(2L).getAs[Double]("avg_nll") >
      scored(1L).getAs[Double]("avg_nll"))
  }

  test("packChunks: concat-and-chunk spans per source, straddling counted") {
    // srcA token counts in id order: 11, 2 -> budget 8:
    //   doc 1 covers tokens [0,11) -> chunks 0..1 (straddles the boundary)
    //   doc 2 covers tokens [11,13) -> chunk 1
    val packed = Curation.packChunks(docs, "text", "doc_id", "source", budget = 8L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(packed(1L).getAs[Long]("chunk_first") === 0L)
    assert(packed(1L).getAs[Long]("chunk_last") === 1L)
    assert(packed(1L).getAs[Long]("n_chunks") === 2L)
    assert(packed(2L).getAs[Long]("chunk_first") === 1L)
    assert(packed(2L).getAs[Long]("n_chunks") === 1L)
    // srcB restarts its stream: doc 3 (3 tokens) is chunk 0
    assert(packed(3L).getAs[Long]("chunk_first") === 0L)
    assert(packed(3L).getAs[Long]("chunk_last") === 0L)
  }

  test("packChunks invariants hold corpus-wide (testdata)") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val packed = Curation.packChunks(docs, "text", "doc_id", "source", budget = 256L)
    // span arithmetic: chunk_first <= chunk_last, n_chunks is the span width
    assert(packed.filter(col("chunk_last") < col("chunk_first")).count() === 0)
    assert(packed.filter(
      col("n_chunks") =!= col("chunk_last") - col("chunk_first") + 1).count() === 0)
    // per source: the stream starts at chunk 0 and chunk_first is monotonic
    // in doc order (concatenation never goes backwards)
    val firsts = packed.groupBy("source").agg(min("chunk_first").as("f"))
    assert(firsts.filter(col("f") =!= 0L).count() === 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val nonMono = packed
      .withColumn("prev", lag(col("chunk_first"), 1).over(w))
      .filter(col("prev").isNotNull && col("chunk_first") < col("prev"))
    assert(nonMono.count() === 0)
  }

  test("sourceMix: shares follow weights, undersized sources kept whole") {
    val corpus = (0 until 200).map { i =>
      val src = if (i < 100) "big" else if (i < 190) "mid" else "tiny"
      (i.toLong, "tok tok tok tok tok tok tok tok tok tok", src) // 10 tokens/doc
    }.toDF("doc_id", "text", "source")
    // weights big=1 mid=1 tiny=2; budget 1000 tokens:
    //   tiny share = 2/4*1000 = 500 > its 100 tokens -> kept whole (frac 1)
    //   big/mid share = 250 -> frac 0.25 of 1000/900 tokens
    val w = when(col("source") === "tiny", 2).otherwise(1)
    val mixed = Curation.sourceMix(corpus, "text", "doc_id", "source", w, 1000L)
    val bySrc = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("tiny") === 10L) // undersized source fully kept
    assert(bySrc("big") > 10 && bySrc("big") < 40) // ~25 of 100 at frac 0.25
    // determinism: same inputs -> same kept set
    val again = Curation.sourceMix(corpus, "text", "doc_id", "source", w, 1000L)
    assert(mixed.select("doc_id").exceptAll(again.select("doc_id")).count() === 0)
    // keep_frac column: capped at 1 for tiny
    val fracs = mixed.select("source", "keep_frac").distinct()
      .as[(String, Double)].collect().toMap
    assert(fracs("tiny") === 1.0)
    assert(fracs("big") === 0.25)
  }

  test("gopherFlags is batch/stream unified: map-only, runs on a stream") {
    // the rule-based quality gate has no shuffle of its own, so the SAME
    // code runs unchanged over a streaming source — the filter-at-ingest
    // deployment shape (score documents as they arrive, before any batch
    // dedup pass ever sees them)
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(Long, String)]
    val q = Curation.gopherFlags(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id",
        stopwords = Seq("the", "a", "and"), minWords = 5)
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox and the lazy dog ran over a hill"),
        (2L, "a b"))
      q.processAllAvailable()
      val rows = spark.table("gopher_stream")
        .select("doc_id", "quality_pass")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(rows(1L) && !rows(2L))
    } finally q.stop()
  }

  test("distinctiveKeywords: df cap drops corpus-common tokens, tf ranks") {
    val corpus = Seq(
      (1L, "shared topicx topicx topicx othera"),
      (2L, "shared topicy othera othera"),
      (3L, "shared topicz"),
      (4L, "shared filler"))
      .toDF("doc_id", "text")
    // "shared" df=4/4 -> dropped at cap 0.6; "othera" df=2/4 kept
    val kw = Curation.distinctiveKeywords(corpus, "text", "doc_id",
      k = 2, maxDfFrac = 0.6)
    val byDoc = kw.collect().groupBy(_.getLong(0))
    val top1 = byDoc(1L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("token"))
    assert(top1.head === "topicx") // tf 3 beats othera tf 1
    assert(!byDoc.values.flatten.exists(_.getAs[String]("token") === "shared"))
    // tf tie in doc 3 region: rank is deterministic (token asc tiebreak)
    val top3 = byDoc(3L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("token"))
    assert(top3 === Seq("topicz"))
  }

  test("bigramLmScore: shuffled token order scores worse than normal order") {
    // docs 1-3 share bigram structure; doc 4 has the SAME unigram
    // histogram as doc 1 but shuffled order -> rare bigrams -> higher NLL
    // (the signal the unigram score cannot see)
    val corpus = Seq(
      (1L, "red fish blue fish red fish"),
      (2L, "red fish blue fish red fish"),
      (3L, "red fish blue fish red fish"),
      (4L, "fish fish red blue fish red"),
      (5L, "solo")) // < 2 tokens -> no bigrams -> absent from output
      .toDF("doc_id", "text")
    val out = Curation.bigramLmScore(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getAs[Double]("avg_nll"))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L)._1 === 5L) // 6 tokens -> 5 bigrams
    assert(out(1L) === out(2L))
    assert(out(4L)._2 > out(1L)._2,
      s"shuffled doc should score worse: ${out(4L)._2} vs ${out(1L)._2}")
    // same unigram histograms -> unigram score CANNOT separate them
    val uni = Curation.unigramLmScore(corpus.filter($"doc_id" <= 4), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_nll")).toMap
    assert(uni(1L) === uni(4L))
  }

  test("shuffledShards: stable shards, dense in-shard positions, no skew blowup") {
    val big = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    val out = Curation.shuffledShards(big, "doc_id", nShards = 4)
      .select("doc_id", "shard", "shard_pos").cache()
    assert(out.count() === 1000)
    // every shard id in [0, 4); positions dense 1..size within each shard
    val byShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("shard_pos").as("lo"), max("shard_pos").as("hi"))
      .collect()
    assert(byShard.map(_.getInt(0)).toSet.subsetOf(Set(0, 1, 2, 3)))
    byShard.foreach { r =>
      assert(r.getLong(2) === 1L && r.getLong(3) === r.getLong(1))
      // uniform-ish: each shard within 2x of fair share
      assert(r.getLong(1) > 125 && r.getLong(1) < 500)
    }
    // deterministic across recomputes
    val again = Curation.shuffledShards(big, "doc_id", nShards = 4)
      .select("doc_id", "shard", "shard_pos")
    assert(out.exceptAll(again).count() === 0)
    out.unpersist()
  }

  test("chunk -> embed -> ANN composes end-to-end (the RAG indexing pipeline)") {
    // documents -> sliding chunks -> featureStub embeddings -> brute-force
    // top-k: the retrieval-indexing path is a composition of the shipped
    // operators, no glue code beyond column renames
    val corpus = Seq(
      (1L, (1 to 40).map(i => s"alpha$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"beta$i").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = Curation.slidingChunks(corpus, "text", "doc_id",
        chunkTokens = 16, stride = 8)
      .withColumn("media_id", col("doc_id") * 1000 + col("chunk_id"))
      .withColumn("payload", col("chunk_text").cast("binary"))
      .withColumn("media_type", lit("text/plain"))
    val emb = Multimodal.featureStub(chunks, dim = 8).toDF() // (vec_id, embedding)
    val topk = Similarity.bruteForceTopK(emb, emb.limit(2), k = 3)
    assert(topk.count() === 6) // 2 queries x top-3
    assert(topk.select("query_id").distinct().count() === 2)
    // every neighbor is a real chunk id, never the query itself
    val rows = topk.collect()
    assert(rows.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
  }

  test("slidingChunks: full coverage, overlap, short tail, empty doc") {
    val corpus = Seq(
      (1L, (1 to 9).map(i => s"w$i").mkString(" ")), // 9 tokens
      (2L, "only three tokens"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = Curation.slidingChunks(corpus, "text", "doc_id",
        chunkTokens = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    // doc 1: starts 0,2,4,6 (start stops once a window reaches the end);
    // the last window is the short tail
    assert(out((1L, 0L)) === ("w1 w2 w3 w4", 4L))
    assert(out((1L, 1L)) === ("w3 w4 w5 w6", 4L))
    assert(out((1L, 2L)) === ("w5 w6 w7 w8", 4L))
    assert(out((1L, 3L)) === ("w7 w8 w9", 3L))
    assert(!out.contains((1L, 4L)))
    // doc 2 fits in one window
    assert(out((2L, 0L)) === ("only three tokens", 3L))
    assert(!out.contains((2L, 1L)))
    // empty doc emits one empty chunk with 0 tokens
    assert(out((3L, 0L)) === ("", 0L))
    // coverage: every token of doc 1 appears in some chunk
    val covered = (0L to 3L).flatMap(i => out((1L, i))._1.split(" ")).toSet
    assert(covered === (1 to 9).map(i => s"w$i").toSet)
  }

  test("groupAwareSplit: every member of a cluster gets the same split — " +
      "zero cross-split near-dup pairs by construction") {
    import spark.implicits._
    // 40 docs in 10 clusters of 4 — enough hash spread that at 10/10/80
    // at least two distinct splits appear
    val assignments = (0L until 40L).map(d => (d, d % 10L))
      .toDF("doc_id", "cluster_id")
    val split = Curation.groupAwareSplit(assignments, testFrac = 0.1, valFrac = 0.1)
    val perCluster = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .select("n_splits").as[Long].collect()
    assert(perCluster.forall(_ === 1L), "a cluster straddles splits")
    assert(split.select("split").distinct().count() >= 2,
      "degenerate hash spread — all clusters landed in one split")
  }
}
