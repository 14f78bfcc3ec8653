package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup
    (4L, "completely unrelated content about database engines and query plans"),
    (5L, "tiny"))
    .toDF("doc_id", "text")

  test("exactGroups: md5 grouping, min-id keeper") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
    assert(g.count() === 4)
    val dup = g.filter(col("n_docs") === 2).head()
    assert(dup.getAs[Long]("keeper_id") === 1L)
  }

  test("ngramJaccardPairs finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dups
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhashBandedPairs equals brute-force Jaccard at the same threshold") {
    val banded = Dedup.minhashBandedPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded === brute)
    assert(banded.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("minhashEstimatedPairs: estimate prefilter is output-identical to the plain banded path") {
    val pre = Dedup.minhashEstimatedPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.minhashBandedPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pre === banded)
  }

  test("minhashEstimateErrors: exact dup estimates at 1.0 and bounds hold") {
    val row = Dedup.minhashEstimateErrors(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .head()
    // candidates here are the exact dup (est must be exactly 1.0 — identical
    // shingle sets give identical signatures) and the near dups; both bound
    // booleans must hold on this fixture
    assert(row.getAs[Long]("n_pairs") >= 3L)
    assert(row.getAs[Boolean]("avg_err_ok"))
    assert(row.getAs[Boolean]("max_err_ok"))
  }

  test("containmentPairs catches the doc-inside-doc copy that Jaccard misses") {
    // distinct alphabetic filler tokens (digits would be stripped by the
    // tokenizer, collapsing the wrapper to one repeated word)
    val wrapper = (2 to 41).map(i => "f" * i).mkString(" ")
    val inner = "the quick brown fox jumps over the lazy dog again"
    val cdocs = Seq(
      (1L, inner),
      (2L, s"$wrapper $inner"), // inner embedded in 8x wrapper
      (3L, "completely unrelated content about database engines and query plans"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(cdocs, "text", "doc_id", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccardPairs(cdocs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.contains((1L, 2L)))
    assert(!jac.contains((1L, 2L))) // jaccard diluted by the wrapper
    assert(!cont.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhashPairs equals brute-force hamming filter (pigeonhole completeness)") {
    val sigs = Dedup.simhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === brute)
    assert(banded.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L }) // exact dup
  }

  test("ngramJaccardPairs: doc-frequency cap drops viral-shingle-only candidates") {
    // docs 1,2 are exact dups; with every shared shingle above the cap the
    // pair can't be *discovered*, proving the cap gates candidate generation
    val capped = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.5, maxShingleDf = 1)
    assert(capped.count() === 0)
  }

  test("simhashBuckets: identical docs share signature and bucket") {
    val sigs = Dedup.simhashBuckets(docs, "text", "doc_id", bandBits = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(4L))
  }

  test("contaminationFlags: shingle overlap with the benchmark set is flagged, clean docs are not") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    val r = Dedup.contaminationFlags(corpus, bench, "text", "doc_id", n = 3, minShared = 2)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) === ((3L, 1L, true))) // 3 shared 3-grams with one bench doc
    assert(r(2L) === ((0L, 0L, false)))
  }

  test("simhash: hamming distance separates near-dups from unrelated docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again at dawn"),
      (2L, "the quick brown fox jumps over the lazy dog again and again at dusk"),
      (3L, "catalyst rewrites logical plans into physical operators with codegen stages"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashBuckets(corpus, "text", "doc_id", bandBits = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)),
      "near-dup pair must be closer than the unrelated pair")
    assert(ham(sigs(1L), sigs(2L)) <= 16, "one-word edit must stay within 16/64 bits")
  }

  test("simhashBuckets (explode+aggregate) equals the per-row reference form") {
    import graft.functions.TextStats
    val fast = Dedup.simhashBuckets(docs, "text", "doc_id", bandBits = 8)
      .select(col("doc_id"), col("simhash"))
    val ref = docs
      .select(col("doc_id"), TextStats.tokenHashes(col("text")).as("h"))
      .select(col("doc_id"), TextStats.simhashFromHashes(col("h")).as("simhash"))
    assert(fast.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(fast).count() === 0)
  }

  test("shingled: fewer-than-n-token docs produce no shingles (guard path)") {
    val sh = Dedup.shingled(docs, "text", "doc_id", n = 3)
      .filter(col("doc_id") === 5L).select(size(col("shingles"))).as[Int].head()
    assert(sh === 0)
  }

  test("duplicateClusters: components over a chain and a separate pair") {
    // chain 1-2-3-4 (diameter 3, needs real propagation) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters: pointer jumping converges a 300-node drift chain") {
    // diameter 299 — neighbor-min alone needs 299 rounds and would blow
    // maxIterations=50; the label(label(v)) jump makes rounds O(log d),
    // so this converging AT ALL is the proof the contraction works
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 300 && labels.values.forall(_ == 0L))
  }

  test("duplicateClusters matches a union-find reference on random graphs") {
    // seeded randomized graphs (mixed chains, cliques, stars, isolates-in-
    // pairs) checked against a driver-side union-find — the strongest
    // guard on the jumping kernel: any propagation bug that converges to
    // a fixed point with WRONG labels would slip past shape tests
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 8) {
      val n = 20 + rnd.nextInt(60)
      val m = n / 2 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val roots = parent.keys.map(k => k -> find(k)).toMap
        val expected = roots.map { case (k, r) =>
          k -> roots.collect { case (k2, r2) if r2 == r => k2 }.min
        }
        val got = Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"trial $trial (n=$n m=$m) diverged")
      }
    }
  }

  test("incrementalClusters equals from-scratch CC over the union of pairs") {
    // yesterday: components {1,2,3} and {10,11}; today's batch BRIDGES
    // them (3~10), extends one (11~12), and starts a fresh pair (20~21)
    val hist  = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val fresh = Seq((3L, 10L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val prev = Dedup.duplicateClusters(hist)
    val inc = Dedup.incrementalClusters(prev, fresh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.duplicateClusters(hist.unionByName(fresh))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      12L -> 1L, 20L -> 20L, 21L -> 20L))
    // an empty new batch reproduces the old labeling (star edges span it)
    val none = Dedup.incrementalClusters(prev, fresh.limit(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none === prev.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("duplicateClusters never initializes the session's ObservationManager") {
    // classic.SparkSession's observationManager is its one non-transient
    // mutable field: once initialized (an Observation OBJECT registering),
    // any closure that drags the session into task serialization —
    // spark.ml training summaries do — dies with NotSerializableException.
    // The CC loop therefore uses the string-named observe form only; pin
    // that the field stays null after a full clustering run.
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    Dedup.duplicateClusters(pairs).collect()
    // guarded reflection: the pin targets a private Spark 4.1 field — on
    // a version bump that renames/removes it, SKIP (the pin must be
    // re-derived for the new internals) instead of failing the suite
    val f =
      try classOf[org.apache.spark.sql.classic.SparkSession]
        .getDeclaredField("observationManager")
      catch {
        case _: NoSuchFieldException =>
          cancel("classic.SparkSession.observationManager no longer " +
            "exists — re-derive the spark.ml serialization pin for this " +
            "Spark version")
      }
    f.setAccessible(true)
    assert(f.get(spark) == null,
      "CC initialized ObservationManager — spark.ml closures will break")
  }

  test("duplicateClusters: one action per round (convergence rides the checkpoint)") {
    // chain of diameter 6 forces real multi-round propagation; the changed
    // count is observed DURING each round's eager localCheckpoint, so the
    // loop must launch no isEmpty/count follow-up action. Pin that by
    // counting Spark jobs: with AQE each round is its checkpoint job plus
    // that plan's shuffle-stage materializations — a per-round convergence
    // scan would add one more job per round on top of the pinned budget.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    Dedup.duplicateClusters(pairs).collect() // warm codegen/JIT outside the count
    // count ONLY jobs attributable to this run via a job group, so
    // unrelated listener traffic (other suites' leftovers, background
    // actions) can never fail the budget
    val group = s"cc-one-action-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val grouped = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) grouped.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "CC one-action budget pin")
      val labels =
        try Dedup.duplicateClusters(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally spark.sparkContext.clearJobGroup()
      // listener bus is async; wait for the count to go quiet
      var last = -1
      while (jobs.get != last) { last = jobs.get; Thread.sleep(200) }
      assert(labels === (1L to 7L).map(_ -> 1L).toMap)
      if (grouped.get == 0)
        cancel("no job carried spark.jobGroup.id — the property name " +
          "changed in this Spark version; re-derive the budget pin")
      // measured budget on this chain (6 rounds): one-action loop = 33
      // jobs in-group (setup checkpoints + per-round checkpoint + AQE
      // stage materializations + collect); a second action per round
      // adds >= 1 job per round, measuring 39. The margin is per-round:
      // budget = measured 33 + 2 slack, still below 33 + rounds.
      assert(grouped.get <= 35,
        s"expected <=35 in-group jobs for the CC loop, saw ${grouped.get}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("incrementalDedupFlags: exact and near flags against a corpus") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (101L, "completely different content with nothing shared at all here now"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // identical to corpus doc 100 -> exact + near
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      // near-dup of corpus doc 100 (one word changed) -> near only
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda CHANGED"),
      // novel -> neither
      (3L, "fresh words that no corpus document has ever seen before today"))
      .toDF("doc_id", "text")
    val flags = Dedup.incrementalDedupFlags(batch, corpus, "text", "doc_id",
        n = 3, minShared = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flags(1L).getAs[Boolean]("exact_dup"))
    assert(flags(1L).getAs[Boolean]("near_dup"))
    assert(flags(1L).getAs[Long]("n_corpus_hits") === 1L)
    assert(!flags(2L).getAs[Boolean]("exact_dup"))
    assert(flags(2L).getAs[Boolean]("near_dup"))
    assert(flags(2L).getAs[Long]("max_shared") >= 5L)
    assert(!flags(3L).getAs[Boolean]("exact_dup"))
    assert(!flags(3L).getAs[Boolean]("near_dup"))
    assert(flags(3L).getAs[Long]("max_shared") === 0L)
  }

  test("bloom-prefiltered incremental dedup is row-identical to the plain path") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // 200-doc corpus, batch = 50 exact dups + 50 novel docs: big enough
    // that a bloom false NEGATIVE (the only way outputs could diverge)
    // would be visible as a missing exact_dup row
    val corpus = spark.range(0, 200)
      .select(col("id").as("doc_id"), concat(lit("corpus doc body "), col("id")).as("text"))
    val batch = spark.range(1000, 1100)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, concat(lit("corpus doc body "), col("id") - 1000))
          .otherwise(concat(lit("novel content "), col("id"))).as("text"))
    val plain = Dedup.incrementalDedupFlags(batch, corpus, "text", "doc_id",
      n = 3, minShared = 2)
    val bloom = Dedup.incrementalDedupFlags(batch, corpus, "text", "doc_id",
      n = 3, minShared = 2, bloomFpp = Some(0.01))
    assert(bloom.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(bloom).count() === 0)
    assert(bloom.filter(col("exact_dup")).count() === 50)
    // the prefilter really is in the plan (a codegen'd might_contain, not a UDF)
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("clusterAssignments: singletons keep themselves, clusters keep min id") {
    val corpus = Seq(1L, 2L, 3L, 7L).toDF("doc_id")
    val pairs = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val rows = Dedup.clusterAssignments(corpus, "doc_id", pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(rows(1L) === ((1L, 1L, true)))
    assert(rows(2L) === ((2L, 2L, true)))
    assert(rows(3L) === ((2L, 2L, false)))
    assert(rows(7L) === ((7L, 1L, true)))
  }

  test("hammingPairsHiLo: banded pair set equals brute force (pigeonhole)") {
    // deterministic pseudo-random 64-bit signatures as two 32-bit words,
    // with planted near-dups chosen so that — under the incremental
    // split below (new = id % 5 == 1) — new-old, new-new AND old-old
    // pairs all exist
    def sig(i: Int) = {
      val r = new scala.util.Random(i * 2654435761L)
      (i.toLong, r.nextLong() & 0xffffffffL, r.nextLong() & 0xffffffffL)
    }
    val sigs0 = {
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for (i <- 0 until 200) {
        val t =
          if (i % 10 == 1) {          // (i-1, i): old-new
            val (_, hi, lo) = sig(i - 1)
            (i.toLong, hi ^ (1L << (i % 32)), lo ^ (1L << ((i * 7) % 32)))
          } else if (i % 10 == 6) {   // (i-5, i): new-new (both ≡ 1 mod 5)
            val (_, hi, lo) = buf(i - 5)
            (i.toLong, hi ^ (1L << ((i * 3) % 32)), lo)
          } else if (i % 10 == 9) {   // (i-1, i): old-old (8, 9 mod 10)
            val (_, hi, lo) = buf(i - 1)
            (i.toLong, hi, lo ^ (1L << ((i * 11) % 32)))
          } else sig(i)
        buf += t
      }
      buf.toSeq
    }
    val df = sigs0.toDF("doc_id", "hash_hi", "hash_lo")
    val banded = Dedup.hammingPairsHiLo(df, maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      a <- sigs0; b <- sigs0 if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3) if d <= 3
    } yield (a._1, b._1, d.toLong)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "fixture must plant at least one near-dup pair")
    // completeness preconditions are enforced, not assumed
    intercept[IllegalArgumentException] {
      Dedup.hammingPairsHiLo(df, maxHamming = 4, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingPairsHiLo(df, maxHamming = 3, bands = 5)
    }

    // incremental scope: exactly the full pair set restricted to pairs
    // touching the batch — new-new kept, new-old kept, old-old dropped
    val isNew: Long => Boolean = _ % 5 == 1
    val inc = Dedup.hammingPairsHiLoIncremental(
        df.filter(col("doc_id") % 5 =!= 1),
        df.filter(col("doc_id") % 5 === 1),
        maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = brute.filter { case (a, b, _) => isNew(a) || isNew(b) }
    assert(inc === expected)
    assert(expected.exists { case (a, b, _) => isNew(a) && isNew(b) },
      "fixture must exercise a new-new pair")
    assert(expected.exists { case (a, b, _) => isNew(a) ^ isNew(b) },
      "fixture must exercise a new-old pair")
    assert(brute.exists { case (a, b, _) => !isNew(a) && !isNew(b) },
      "fixture must have an old-old pair the incremental path must drop")
  }
}
