package graft
package queries

import graft.functions.TextStats
import graft.operators.{Curation, Dedup}
import graft.operators.Checkpoints.LineageOps
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import QueryCommon._

/** Crawl scheduling over the archived link graph: frontier, refresh,
  * politeness, budgets, and the end-to-end curation pipelines.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object PipelineQueries {

  /** The SECOND-snapshot archive (`changeSalt = 1`): the same corpus
    * re-fetched 14 days after `QueryCommon.warcFixturePath`'s crawl, where
    * exactly the `d % 4 == 3` 200-status class changed content and every other
    * byte is identical — the observation pair the change-rate estimator
    * (`pipeline_crawl_change_rate`) compares digests across.
    */
  private def warcSnapFixturePath(s: SparkSession, root: String, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcsnap1", root, dir, Tables.listingKey(s, dir)), _ => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      ensureIndex(s, root, ids, "warcsnap1", "built") { p =>
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true)
        val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
          nFiles = 16, linkSpace = ids.count(), changeSalt = 1L)
        s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
      }
    })

  /** Per-url change-rate estimates across the two crawl snapshots —
    * shared by `pipeline_crawl_change_rate` (the estimator table) and
    * `pipeline_crawl_refresh_adaptive` (the scheduler it feeds). One
    * archive pass per snapshot: digests computed map-side, then the
    * 4-column frame is checkpointed (payload bytes never shuffle, and
    * the latest-per-key tiers reference it twice). Latest-per-(url,
    * snapshot) is max(long) + join-back — hash aggregate and hash join;
    * a max_by(digest, doc_id) would put a string in the agg buffer and
    * force SortAggregate (see pipeline_warc's note). The estimator is
    * Cho & Garcia-Molina (TODS 2003): λ̂ = ln((n + 0.5) / (n − X + 0.5))
    * / I for n re-fetches with X detected changes at interval I; the
    * positive-log form keeps the unchanged case exactly +0.0 (the
    * -ln(r)/I form yields -0.0, which is bit-unequal across engines).
    * Revisit interval targets half-a-change per visit, capped at 60 d.
    */
  private def changeRateEstimates(s: SparkSession, root: String, dir: String): DataFrame = {
    val snap0 = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
      .withColumn("snap", lit(0))
    val snap1 = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcSnapFixturePath(s, root, dir)}/files")).toDF()
      .withColumn("snap", lit(1))
    val recs = snap0.unionByName(snap1)
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        col("snap"), md5(col("payload")).as("digest"))
      .localCheckpoint()
    val latestIds = recs.groupBy("url", "snap").agg(max("doc_id").as("doc_id"))
    val latest = recs.join(latestIds, Seq("url", "snap", "doc_id"))
      .localCheckpoint() // tiny (one row per url per snapshot)
    val obs = latest.filter(col("snap") === 0)
      .select(col("url"), col("digest").as("d0"))
      .join(latest.filter(col("snap") === 1)
        .select(col("url"), col("digest").as("d1")), Seq("url"))
      .select(col("url"), (col("d0") =!= col("d1")).as("changed"))
    val n = lit(1.0) // one re-fetch interval between the two snapshots
    val x = col("changed").cast("double")
    val lam = log((n + lit(0.5)) / (n - x + lit(0.5))) / lit(14.0)
    obs.select(col("url"), col("changed"),
      round(lam, 6).as("lambda_hat"),
      when(col("changed"), round(least(lit(60.0), lit(0.5) / lam), 2))
        .otherwise(lit(60.0)).as("revisit_days"))
  }

  /** PERSISTED crawl scheduling state — converged ranks AND the
    * discovered-URL candidate table — keyed by the archive's SEGMENT
    * LISTING (names+sizes, [[Tables.listingKey]]), never by extracted content:
    * an unchanged archive must cost a scheduling query an O(listing)
    * freshness check, not the WARC parse + href extraction + resolution
    * join the r13 content fingerprint re-ran per decision. New or
    * rewritten segments change the listing and rebuild both tables
    * (ranking is the offline, amortized half: 10 power-iteration rounds
    * at crawl-refresh cadence); scheduling queries read two parquet
    * tables and pay only their own joins. Oracles are UNCHANGED — they
    * replay the full chain, so a stale or drifted index shows up as a
    * red row, not a silent skew. Marker = "ranks", the LAST table the
    * build writes.
    */
  private def crawlIndexPath(s: SparkSession, root: String, dir: String): String = {
    val fixture = warcFixturePath(s, root, dir)
    ensureIndexNamed(s, root, "crawlsched",
        Tables.listingKey(s, s"$fixture/files"), "ranks") { p =>
      val resp = graft.sources.Warc.responses(
        graft.sources.Warc.readRecords(s, s"$fixture/files")).toDF()
      // the discovered-URL table: one row per canonical url with its
      // host/path/node — exactly what the frontier gates and budgets over
      // (host/path agree per canonical url, so distinct-on-url is exact)
      resp.select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
        .filter(col("url").isNotNull).distinct()
        .withColumn("node", regexp_extract(col("path"), "/d/(\\d+)", 1).cast("long"))
        .write.mode("overwrite").parquet(s"$p/urls")
      graft.operators.Graph.pageRank(warcLinkEdges(s, root, dir), "src", "dst",
          iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
  }

  private def crawlRanks(s: SparkSession, root: String, dir: String): DataFrame =
    s.read.parquet(s"${crawlIndexPath(s, root, dir)}/ranks")

  /** The persisted discovered-URL table — the scheduling queries'
    * candidate source (r13 re-parsed the archive per query for this
    * frame; at 100 TB candidates come from crawl state, not a corpus
    * re-read).
    */
  private def crawlUrls(s: SparkSession, root: String, dir: String): DataFrame =
    s.read.parquet(s"${crawlIndexPath(s, root, dir)}/urls")

  /** Converged ranks over a [[graft.streaming.LinkIngest]] index's edge
    * table (optionally as of a batch bound), keyed by the index's LANDED
    * DATA LISTING — batch-dir file names+sizes under `pairs/` and
    * `urls/`, filtered to the bound — so a freshness check costs
    * O(listing), never the resolution join the edge read itself pays.
    * (A compaction collapses the listing and forces one rebuild of the
    * same ranks — the cheap, correct side of that trade.)
    */
  private def ranksForLinkIndex(s: SparkSession, root: String, idx: String,
      upToBatch: Option[Long], nodeOf: Column => Column): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val roster = Seq("pairs", "urls").flatMap { tbl =>
      val root = new org.apache.hadoop.fs.Path(s"$idx/$tbl")
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toIndexedSeq
        .filter { st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
            upToBatch.forall(
              st.getPath.getName.stripPrefix("batch_id=").toLong <= _)
        }
        .flatMap(d => fs.listStatus(d.getPath).toIndexedSeq.filter(_.isFile)
          .map(f => s"$tbl/${d.getPath.getName}/${f.getPath.getName}:${f.getLen}"))
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest((roster :+ s"b${upToBatch.getOrElse(-1L)}")
        .mkString("\n").getBytes("UTF-8"))
    // n from the roster TEXT bytes (names+sizes), not the file count —
    // same cross-SF coexistence rationale as Tables.listingKey
    val name = f"n${roster.map(_.length + 1L).sum}" +
      f"_x${java.nio.ByteBuffer.wrap(md).getLong}%016x"
    val path = ensureIndexNamed(s, root, "crawlrankm", name, "ranks") { p =>
      graft.operators.Graph.pageRank(
          graft.streaming.LinkIngest.edges(s, idx, upToBatch, nodeOf),
          "src", "dst", iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
    s.read.parquet(s"$path/ranks")
  }

  /** `pipeline_crawl_frontier`'s oracle: the converged global rank chain,
    * then the frontier tiers in arithmetic-ideal form — distinct
    * canonical candidates, the robots gate, and the rank-prioritized
    * top-50 (rounded-rank DESC, node tiebreak — deterministic in both
    * engines).
    */
  private val crawlFrontierOracle: String =
    pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN p % 7 = 5 THEN FALSE
        |       ELSE starts_with(CAST(p AS VARCHAR), CAST(p % 7 AS VARCHAR))
        |            OR (p % 7 = 6 AND starts_with(CAST(p AS VARCHAR), '16')) END))
        |SELECT a.url, a.p AS node, round(r.rank, 6) AS rank
        |FROM allowed a JOIN r10 r ON r.node = a.p
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin

  def specs(root: String): Seq[QuerySpec] = Seq(
    // CHANGE-RATE estimation over two crawl snapshots — the revisit-
    // policy input (Cho & Garcia-Molina, TODS 2003: estimate a page's
    // Poisson change rate λ from n re-fetches with X detected changes,
    // λ̂ = ln((n + 0.5) / (n − X + 0.5)) / I for access interval I).
    // Per canonical url take the LATEST record's payload digest in each
    // snapshot (alias groups carry two fetches per snapshot — a real
    // scheduler keys freshness on the newest), diff across snapshots,
    // and derive the adaptive revisit interval (expected half-a-change
    // per visit, capped at 60 days; an unchanged pair estimates λ̂ = 0 →
    // the cap). The second snapshot is the changeSalt=1 fixture: exactly
    // the d%4==3 200-status class changed. Scale shape: digests are
    // map-side over each archive scan, then ONE hash aggregate keyed on
    // (url, snapshot) and one on url — payload bytes never shuffle.
    QuerySpec("pipeline_crawl_change_rate", (s, dir) =>
      changeRateEstimates(s, root, dir).orderBy("url"),
      // Change-rate replay: which urls changed is pure arithmetic (the
      // LATEST record per alias group is max(d); content drifts iff that
      // record is the d%4==3 200-status class), and the estimator formula
      // is restated verbatim — Spark's digest diff must land exactly the
      // arithmetic's change set.
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |g AS (SELECT p, max(d) AS dmax FROM c GROUP BY p),
        |chg AS (SELECT
        |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
        |  (dmax % 4 = 3 AND dmax % 11 <> 0) AS changed FROM g),
        |est AS (SELECT url, changed,
        |  ln((1 + 0.5) / (1 - (CASE WHEN changed THEN 1 ELSE 0 END) + 0.5)) / 14.0 AS lam
        | FROM chg)
        |SELECT url, changed, round(lam, 6) AS lambda_hat,
        |  CASE WHEN changed THEN round(least(60.0, 0.5 / lam), 2)
        |       ELSE CAST(60.0 AS DOUBLE) END AS revisit_days
        |FROM est ORDER BY url""".stripMargin),

    // The estimator FEEDING the scheduler — the adaptive-revisit loop
    // closed: at a probe date 14 days past the second snapshot, exactly
    // the urls whose estimated interval has elapsed (the changed class's
    // ~6.4 days; the unchanged class sits at the 60-day cap) are due,
    // and the due set is budgeted top-5 per host by crawl priority (the
    // persisted rank index — due-ness decides MEMBERSHIP, rank decides
    // ORDER, the complement of refresh_lastmod's staleness-first sort).
    // Scale shape: estimates and the url/rank tables join on url/node
    // keys; the per-host budget is a WindowGroupLimit-prunable top-k.
    QuerySpec("pipeline_crawl_refresh_adaptive", (s, dir) => {
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("rank"), asc("node"))
      changeRateEstimates(s, root, dir)
        .filter(col("revisit_days") <= lit(14.0)) // due by snap1 + 14d
        .join(crawlUrls(s, root, dir).select(col("url"), col("node")), Seq("url"))
        .join(crawlRanks(s, root, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("host", lower(try_parse_url(col("url"), lit("HOST"))))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 5)
        .select(col("host"), col("url"), col("node"),
          col("revisit_days"), col("rank"), col("rn"))
        .orderBy("host", "rn")
    },
      // Adaptive re-fetch schedule: the due set is the changed class (its
      // interval formula restated), ranked by the converged extracted-graph
      // walk, top-5 per host.
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |c2 AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |g2 AS (SELECT p, max(d) AS dmax FROM c2 GROUP BY p),
        |due AS (SELECT p,
        |    'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |      (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
        |    round(least(60.0, 0.5 / (ln((1 + 0.5) / 0.5) / 14.0)), 2) AS revisit_days
        |  FROM g2 WHERE dmax % 4 = 3 AND dmax % 11 <> 0),
        |scored AS (SELECT 'd' || (du.p % 7) || '.ex.test' AS host, du.url,
        |    du.p AS node, du.revisit_days, round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY du.p % 7
        |      ORDER BY round(r.rank, 6) DESC, du.p) AS rn
        |  FROM due du JOIN r10 r ON r.node = du.p)
        |SELECT host, url, node, revisit_days, rank, CAST(rn AS BIGINT) AS rn
        |FROM scored WHERE rn <= 5 ORDER BY host, rn""".stripMargin)),

    // robots.txt CACHE EXPIRY (RFC 9309 §2.4: a cached robots file is
    // valid for at most 24 hours) — the robots tier's own freshness
    // loop, beside the page-level refresh queues: per host, the robots
    // fetch clock vs the probe instant decides which policies are stale
    // and must re-fetch before the next crawl wave trusts them. Fixture
    // clock is per-host arithmetic; 7 rows — policy-table-sized, the
    // broadcast side of every gate join.
    QuerySpec("pipeline_crawl_robots_age", (s, dir) => {
      val h = regexp_extract(col("host"), "d(\\d+)", 1).cast("long")
      robotsPolicies(s).select(col("host"),
          pmod(h * 9, lit(40)).cast("int").as("fetch_h"))
        .select(col("host"),
          (to_timestamp(lit("2026-02-01 00:00:00")) +
            expr("make_interval(0, 0, 0, 0, fetch_h, 0, 0)")).as("fetched_ts"))
        .select(col("host"),
          date_format(col("fetched_ts"), "yyyy-MM-dd HH:mm").as("fetched_at"),
          ((unix_timestamp(to_timestamp(lit("2026-02-03 00:00:00"))) -
            unix_timestamp(col("fetched_ts"))) / 3600).cast("bigint").as("age_hours"))
        .withColumn("robots_stale", col("age_hours") > 24)
        .orderBy("host")
    },
      // Robots cache age: the per-host fetch clock and the 24 h validity
      // bound restated as arithmetic.
      """WITH h AS (SELECT CAST(range AS BIGINT) AS h FROM range(7)),
        |f AS (SELECT 'd' || h || '.ex.test' AS host,
        |  TIMESTAMP '2026-02-01 00:00:00'
        |    + to_hours(CAST((h * 9) % 40 AS BIGINT)) AS ts FROM h)
        |SELECT host, strftime(ts, '%Y-%m-%d %H:%M') AS fetched_at,
        |  CAST(datediff('hour', ts, TIMESTAMP '2026-02-03 00:00:00') AS BIGINT) AS age_hours,
        |  datediff('hour', ts, TIMESTAMP '2026-02-03 00:00:00') > 24 AS robots_stale
        |FROM f ORDER BY host""".stripMargin),

    // The CRAWL-CADENCE REFRESH end-to-end on the streamed graph: ranks
    // from the first three segment batches (LinkIngest.edges' batch-
    // pruned time-travel read) warm-start 8 rounds on the full
    // accumulated graph, gated within 2e-3 max-abs of the cold 10-round
    // walk. The last segment changes ~40% of the EDGE set (new sources
    // PLUS previously-unresolvable targets becoming live — real ingest
    // deltas are bigger than node-count splits suggest), so the honest
    // budget/tolerance was measured with the former `tools/GraphProbe`:
    // warm-8 lands 6.3e-4 from cold at 500 docs (3.2× margin) and 8.7e-5
    // at sf0.1 (23×), while cold-10's own residual vs cold-15 is 1.4e-5
    // — the reference is converged. Published output = the cold ranks (replaying the
    // shared extracted-edges chain) + the pinned-TRUE proximity bool —
    // the graph_pagerank_incremental gate convention, now over the REAL
    // ingest accumulation instead of an arithmetic split. The three
    // inline walks are the ORACLE GATE, priced by design (see
    // COVERAGE.md note); production ships warm-only + crawlRanks.
    QuerySpec("pipeline_crawl_refresh", (s, dir) => {
      val idx = s"${warcIngestPath(s, root, dir)}/links"
      // the warm-start input IS persisted state: the prior crawl's ranks
      // come from the index keyed on the link index's LANDED-DATA listing
      // (ranksForLinkIndex) — a freshness check costs O(listing), never
      // the as-of resolution join
      val oldRanks = ranksForLinkIndex(s, root, idx, upToBatch = Some(2L),
        nodeOf = pathIdNode)
      // materialize the full extraction once: warm + cold share it
      val full = graft.streaming.LinkIngest.edges(s, idx, nodeOf = pathIdNode)
        .localCheckpoint()
      val warm = graft.operators.Graph.pageRank(full, "src", "dst",
        iterations = 8, init = Some(oldRanks))
      val cold = graft.operators.Graph.pageRank(full, "src", "dst",
        iterations = 10)
      // both walks rank the same node set (every endpoint of `full`), so
      // the per-node difference is a sum over the two vectors' union. A
      // join of the two would let AQE pick its build side per run from
      // whichever walk's shuffle finished first, compiling new code for
      // each pick; the union has one plan.
      val gate = cold.select(col("node"), col("rank").as("d"))
        .unionByName(warm.select(col("node"), (-col("rank")).as("d")))
        .groupBy("node").agg(sum("d").as("d"))
        .agg(max(abs(col("d"))).as("m"))
        .select((col("m") <= 2e-3).as("ok"))
      cold.crossJoin(broadcast(gate))
        .select(col("node"), round(col("rank"), 6).as("rank"),
          col("ok").as("warm_within_tol"))
        .orderBy("node")
    },
      // cold ranks over the extracted graph replay the shared chain; the
      // warm-refresh proximity gate is Spark-computed and pinned TRUE
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      "\nSELECT node, round(rank, 6) AS rank, TRUE AS warm_within_tol " +
      "FROM r10 ORDER BY node")),

    // The PACED fetch schedule — the last stage of the crawl loop, where
    // every policy signal lands at once: candidates from the archives,
    // the RULES-tier robots gate (Allow carve-outs and the wildcard rule
    // decide real rows here), rank from the persisted index, a top-3
    // per-host budget, and each slot offset by the host's Crawl-delay
    // ((rn−1) × delay — the pacing a polite fetcher enforces between
    // hits on one host). Map-side policy parse broadcast into the gate;
    // one per-host window over the budgeted rows.
    QuerySpec("pipeline_crawl_schedule", (s, dir) => {
      // candidates come from the PERSISTED discovered-URL table (one
      // parquet read), not an archive re-parse — the crawl-state shape
      val cand = crawlUrls(s, root, dir)
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"),
        graft.functions.Robots.crawlDelaySeconds(col("robots_txt")).as("delay"))
      val allowed = cand.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(col("path"), col("rules")))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("rank"), asc("node"))
      allowed.join(crawlRanks(s, root, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("host"), col("url"), col("node"), col("rank"),
          ((col("rn") - 1) * coalesce(col("delay"), lit(0.0)))
            .as("scheduled_offset_s"))
        .orderBy("host", "node")
    },
      // the schedule replays the full composition: extracted-edges rank
      // chain, the RULES-tier gate arithmetic (same CASE as
      // warc_robots_gate), the windowed per-host budget, and the
      // (rn−1) × 2.0 pacing from the *-group's Crawl-delay
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, p % 7 AS h, CAST(p AS VARCHAR) AS ps,
        |    'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN h = 5 THEN FALSE
        |       WHEN h = 4 THEN ps LIKE '%7'
        |            OR (starts_with(ps, '4') AND NOT starts_with(ps, '45'))
        |       WHEN h = 6 THEN (starts_with(ps, '6') AND NOT starts_with(ps, '65'))
        |            OR starts_with(ps, '16')
        |       ELSE starts_with(ps, CAST(h AS VARCHAR))
        |            AND NOT starts_with(ps, CAST(h AS VARCHAR) || '5') END)),
        |scored AS (SELECT 'd' || a.h || '.ex.test' AS host, a.url, a.p AS node,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY a.h
        |                       ORDER BY round(r.rank, 6) DESC, a.p) AS rn
        |  FROM allowed a JOIN r10 r ON r.node = a.p)
        |SELECT host, url, node, rank, (rn - 1) * 2.0 AS scheduled_offset_s
        |FROM scored WHERE rn <= 3 ORDER BY host, node""".stripMargin)),

    // REDIRECT-CHAIN resolution — the alias tier crawl dedup needs
    // before content ever loads: per origin, follow Location hops
    // (RELATIVE Locations are legal per RFC 7231 §7.1.2 and common —
    // resolved with Url.resolveUrl against the hop's own url; the
    // even-k hops here are root-relative, odd-k absolute) to the final
    // url, under a HOP BUDGET with self-loop termination. Fixture: per
    // host, 10 arithmetic chains of m%3+1 hops ending on the /d/(h+7m)
    // page; the m==9 chain is a planted SELF-LOOP that must exhaust the
    // budget and report resolved=false, never spin. The loop is 8
    // bounded driver rounds of a left join over the redirect table —
    // done rows ride through unchanged (their final url has no redirect
    // row), so the fold is idempotent past each chain's end.
    QuerySpec("pipeline_crawl_redirects", (s, dir) => {
      val hm = s.range(7).select(col("id").as("h"))
        .crossJoin(s.range(10).select(col("id").as("m")))
      val hops = hm.select(col("h"), col("m"),
        explode(sequence(lit(0L), pmod(col("m"), lit(3)))).as("k"))
      val srcU = concat(lit("https://d"), col("h"), lit(".ex.test/r/"),
        col("h"), lit("/"), col("m"), lit("/"), col("k"))
      val isLast = col("k") === pmod(col("m"), lit(3))
      val location = when(col("m") === 9 && isLast,
          concat(lit("/r/"), col("h"), lit("/9/0"))) // the self-loop
        .when(isLast, concat(lit("/d/"), col("h") + col("m") * 7))
        .when(pmod(col("k"), lit(2)) === 1,
          concat(lit("https://d"), col("h"), lit(".ex.test/r/"),
            col("h"), lit("/"), col("m"), lit("/"), col("k") + 1))
        .otherwise(concat(lit("/r/"), col("h"), lit("/"), col("m"),
          lit("/"), col("k") + 1))
      val redirects = hops
        .select(srcU.as("cur"),
          graft.functions.Url.resolveUrl(srcU, location).as("next_url"))
        .localCheckpoint()
      var walk = hm.select(
        concat(lit("https://d"), col("h"), lit(".ex.test/r/"), col("h"),
          lit("/"), col("m"), lit("/0")).as("origin"))
        .select(col("origin"), col("origin").as("cur"),
          lit(0L).as("n_hops"))
      val budget = 8
      for (i <- 1 to budget) {
        walk = walk.join(redirects, Seq("cur"), "left")
          .select(col("origin"),
            coalesce(col("next_url"), col("cur")).as("cur"),
            (col("n_hops") + when(col("next_url").isNotNull, 1L)
              .otherwise(0L)).as("n_hops"))
        if (i % 4 == 0) walk = walk.localCheckpoint()
      }
      // resolved = the final url has no redirect row left (a loop or an
      // over-budget chain still sits on a redirecting url)
      walk.join(redirects.select(col("cur"), lit(true).as("redirects_on")),
          Seq("cur"), "left")
        .select(col("origin"), col("cur").as("final_url"), col("n_hops"),
          coalesce(!col("redirects_on"), lit(true)).as("resolved"))
        .orderBy("origin")
    },
      // redirect chains replay in CLOSED FORM — lengths and targets are
      // arithmetic (m%3+1 hops to /d/(h+7m)), so the oracle states the
      // ideal and the walk must erase the hop mechanics (incl. relative
      // Location resolution); the self-loop class reports the spent
      // 8-hop budget, unresolved
      """WITH hm AS (SELECT h, m FROM range(7) t(h), range(10) t2(m))
        |SELECT 'https://d' || h || '.ex.test/r/' || h || '/' || m || '/0' AS origin,
        |  CASE WHEN m = 9 THEN 'https://d' || h || '.ex.test/r/' || h || '/9/0'
        |       ELSE 'https://d' || h || '.ex.test/d/' || (h + m*7) END AS final_url,
        |  CAST(CASE WHEN m = 9 THEN 8 ELSE m % 3 + 1 END AS BIGINT) AS n_hops,
        |  m <> 9 AS resolved
        |FROM hm ORDER BY origin""".stripMargin),

    // The FRONTIER-SEED diff that closes the crawl loop: sitemap locs
    // minus the already-discovered URL table (one anti-join against the
    // persisted crawl index) = the pages to enqueue. Three seed classes
    // must survive: beyond-corpus pages (never fetched), alias-shadow
    // positions (p%3==2 — no page canonicalizes there), and p%5==0 pages
    // whose DISCOVERED canonical form carries a query string the bare
    // sitemap loc doesn't — while every plainly-known page drops,
    // INCLUDING the k%4==3 entity class whose decoded query form folds
    // onto the discovered canonical (the &amp; defect made those
    // spurious seeds).
    QuerySpec("pipeline_crawl_seeds", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val locs = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
      locs.join(crawlUrls(s, root, dir).select(col("url")), Seq("url"), "left_anti")
        .select(col("host"), col("url"))
        .orderBy("host", "url")
    },
      // a sitemap loc is already-discovered ONLY when its canonical form
      // truly matches a discovered url: the bare form for in-corpus (p<n),
      // non-alias (p%3<>2), non-query (p%5<>0) pages — and, new with the
      // entity class, the DECODED query form (k%4==3, p%5==0, p%3<>2, k<40)
      // which folds onto the discovered '?a=1&b=2' canonical and must DROP
      // from the seed set. Everything else is a frontier seed.
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
        |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
        |  FROM range(7) t(h), range(43) t2(k))
        |SELECT DISTINCT 'd' || h || '.ex.test' AS host,
        |  'https://d' || h || '.ex.test/d/' || p AS url
        |FROM ks
        |WHERE NOT (p < (SELECT n FROM nn) AND p % 3 <> 2
        |           AND (p % 5 <> 0 OR (k % 4 = 3 AND k < 40)))
        |ORDER BY host, url""".stripMargin),

    // The DISCOVERY-TO-FETCH leg composed end-to-end: frontier seeds
    // (sitemap locs minus the discovered-URL table) gated and paced AS A
    // NAMED BOT — rulesFor/crawlDelaySecondsFor pick graftbot's stacked
    // group where one exists (Disallow /d/ with the host-digit Allow
    // carve-out; delay 7) and fall back to the `*` tier on host 3
    // (prefix rules; delay 2) — then a top-3 per-host enqueue budget
    // ordered by url (seeds are pre-rank by definition), each slot
    // offset by the bot's delay. Integrates the r14 sitemap + per-bot
    // tiers into one scheduling decision. r16: the RFC 9309 §2.4 robots
    // cache clock (pipeline_crawl_robots_age's per-host fetch hour vs
    // the 2026-02-03 probe, 24 h validity) GATES the schedule — a stale
    // host gets a `robots_refresh` row at slot 0 and its page fetches
    // shift one delay slot, so the policy is re-validated before any
    // page is fetched under it; fresh hosts schedule as before.
    QuerySpec("pipeline_crawl_enqueue", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val seeds = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .join(crawlUrls(s, root, dir).select(col("url")), Seq("url"), "left_anti")
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        // the per-bot delay already falls back to the `*` groups' on a
        // host with no graftbot group (groupsFor's selection)
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("delay"))
      // the robots fetch clock (same arithmetic as
      // pipeline_crawl_robots_age): fetched 2026-02-01 + (h*9)%40 h,
      // probed 2026-02-03 ⇒ age 48 − (h*9)%40 h, stale beyond 24 h
      val fetchH = pmod(
        regexp_extract(col("host"), "d(\\d+)", 1).cast("long") * 9, lit(40))
      val w = Window.partitionBy(col("host")).orderBy(asc("url"))
      val gated = seeds.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(
          try_parse_url(col("url"), lit("PATH")), col("rules")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("robots_stale", (lit(48L) - fetchH) > lit(24L))
      val pages = gated.select(col("host"), lit("fetch").as("kind"), col("url"),
        ((col("rn") - 1 + when(col("robots_stale"), 1).otherwise(0)) *
          coalesce(col("delay"), lit(0.0))).as("scheduled_offset_s"))
      // one refresh row per stale host WITH work queued (keyed off its
      // first page slot, so an all-blocked host refreshes nothing)
      val robots = gated.filter(col("robots_stale") && col("rn") === 1)
        .select(col("host"), lit("robots_refresh").as("kind"),
          concat(lit("https://"), col("host"), lit("/robots.txt")).as("url"),
          lit(0.0).as("scheduled_offset_s"))
      robots.unionByName(pages)
        .orderBy("host", "scheduled_offset_s", "url")
    },
      // seeds (the pipeline_crawl_seeds set) gated per GRAFTBOT's groups —
      // hosts with the stacked group block everything but the host-digit
      // Allow carve-out and pace at 7 s; host 3 falls back to the `*`
      // prefix rules and the 2 s delay — then the top-3-by-url enqueue
      // budget. r16: the robots cache clock gates the schedule — stale
      // hosts ((h*9)%40 < 24, i.e. age 48−fetch_h > 24) prepend a
      // robots_refresh row at offset 0 and their page offsets shift one
      // delay slot (rn×delay instead of (rn−1)×delay)
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
        |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
        |  FROM range(7) t(h), range(43) t2(k)),
        |seeds AS (SELECT DISTINCT h, CAST(p AS VARCHAR) AS s,
        |    'https://d' || h || '.ex.test/d/' || p AS url
        |  FROM ks
        |  WHERE NOT (p < (SELECT n FROM nn) AND p % 3 <> 2
        |             AND (p % 5 <> 0 OR (k % 4 = 3 AND k < 40)))),
        |allowed AS (SELECT * FROM seeds WHERE NOT (
        |  CASE WHEN h = 3 THEN starts_with(s, '3') AND NOT starts_with(s, '35')
        |       ELSE NOT starts_with(s, CAST(h AS VARCHAR) || '5') END)),
        |q AS (SELECT h, 'd' || h || '.ex.test' AS host, url,
        |    row_number() OVER (PARTITION BY h ORDER BY url) AS rn,
        |    CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS delay,
        |    ((h * 9) % 40) < 24 AS stale
        |  FROM allowed)
        |SELECT host, kind, url, scheduled_offset_s FROM (
        |  SELECT host, 'fetch' AS kind, url,
        |    CAST((rn - 1 + CASE WHEN stale THEN 1 ELSE 0 END) * delay
        |      AS DOUBLE) AS scheduled_offset_s
        |  FROM q WHERE rn <= 3
        |  UNION ALL
        |  SELECT DISTINCT host, 'robots_refresh',
        |    'https://' || host || '/robots.txt', CAST(0 AS DOUBLE)
        |  FROM q WHERE stale AND rn <= 3)
        |ORDER BY host, scheduled_offset_s, url""".stripMargin),

    // LASTMOD-DRIVEN refresh prioritization (Robots.sitemapEntries) —
    // consuming the one freshness signal the sitemap protocol exists to
    // provide: per discovered url, the sitemap's lastmod joins the crawl
    // state (the persisted url table for identity, the rank index for
    // priority) against the last-crawl snapshot date, and the re-fetch
    // queue orders STALENESS FIRST (lastmod after the fetch snapshot),
    // rank second — so a stale low-rank page outranks a fresh high-rank
    // one, which is the entire point of the signal. Top-12 per host — wide
    // enough that the stale/fresh BOUNDARY itself is in the output (fresh
    // rows surface below every stale one), so the ordering proof is
    // visible, not just hash-implied.
    // Only KNOWN urls qualify (refresh is for fetched pages; unseen locs
    // are pipeline_crawl_seeds' business): the inner join against the
    // url table also re-proves the entity-class fold (a query-form loc
    // matches only because &amp; decoded). Oracle replays the rank chain
    // + the lastmod arithmetic + the two-key window verbatim.
    QuerySpec("pipeline_crawl_refresh_lastmod", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      // the crawl log's fetch clock: one snapshot date for the whole
      // archive fixture (a real deployment joins per-url fetch times)
      val fetchDate = to_date(lit("2026-02-01"))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("is_stale"), desc("rank"), asc("node"))
      entries.join(crawlUrls(s, root, dir).select(col("url"), col("node")), Seq("url"))
        .join(crawlRanks(s, root, dir), Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
        .withColumn("is_stale", col("lastmod") > fetchDate)
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 12)
        .select(col("host"), col("url"), col("node"),
          date_format(col("lastmod"), "yyyy-MM-dd").as("lastmod"),
          col("is_stale"), col("rank"), col("rn"))
        .orderBy("host", "rn")
    },
      // lastmod refresh: the rank chain + the fixture's lastmod arithmetic
      // (2026-01-01 + p%60 days vs the 2026-02-01 snapshot ⇒ stale iff
      // p%60 ≥ 32) + the known-url condition (bare form discovered for
      // p%5<>0; the k%4==3 decoded query form for p%5==0) + the two-key
      // staleness-first window, top-12 per host
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |ks2 AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc2 AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks2),
        |pg2 AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc2 l JOIN pg2 ON pg2.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |scored AS (SELECT 'd' || kn.h || '.ex.test' AS host, kn.url,
        |    kn.p AS node, strftime(kn.lastmod, '%Y-%m-%d') AS lastmod,
        |    kn.lastmod > DATE '2026-02-01' AS is_stale,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY kn.h
        |      ORDER BY (kn.lastmod > DATE '2026-02-01') DESC,
        |               round(r.rank, 6) DESC, kn.p) AS rn
        |  FROM known kn JOIN r10 r ON r.node = kn.p)
        |SELECT host, url, node, lastmod, is_stale, rank,
        |  CAST(rn AS BIGINT) AS rn
        |FROM scored WHERE rn <= 12 ORDER BY host, rn""".stripMargin)),

    // The RE-FETCH leg composed end-to-end — the refresh counterpart of
    // pipeline_crawl_enqueue (which handles NEW urls): the stale set
    // (per-url fetch clock vs sitemap lastmod, stale_days > 0) gated and
    // paced AS THE NAMED BOT (rulesFor/crawlDelaySecondsFor — graftbot's
    // stacked group where one exists, `*` fallback on host 3), then a
    // top-3 per-host re-fetch budget ordered by staleness with
    // (rn−1)×delay offsets. Closes the crawl loop: discover → enqueue →
    // fetch → refresh-detect → re-fetch schedule.
    QuerySpec("pipeline_crawl_refresh_enqueue", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      val idx = s"${warcIngestPath(s, root, dir)}/links"
      val fetched = s.read.parquet(s"$idx/urls")
        .groupBy(col("url"))
        .agg(min(col("batch_id")).cast("bigint").as("fetch_batch"))
        .withColumn("fetch_date",
          date_add(to_date(lit("2026-02-01")),
            (col("fetch_batch") * 10).cast("int")))
      val stale = entries.join(fetched, Seq("url"))
        .withColumn("stale_days",
          datediff(col("lastmod"), col("fetch_date")).cast("bigint"))
        .filter(col("stale_days") > 0)
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("delay"))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("stale_days"), asc("url"))
      stale.join(broadcast(pol), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlockedByRules(
          try_parse_url(col("url"), lit("PATH")), col("rules")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("host"), col("url"), col("stale_days"),
          ((col("rn") - 1) * coalesce(col("delay"), lit(0.0)))
            .as("scheduled_offset_s"))
        .orderBy("host", "url")
    },
      // the re-fetch schedule replays the stale-set CTEs (fetch-batch +
      // lastmod arithmetic), graftbot's gate CASE (path '/d/p' under the
      // stacked group's Disallow /d/ + host-digit Allow carve-out; the `*`
      // prefix tier on host 3), the per-bot delay, and the top-3 staleness
      // budget with (rn−1)×delay offsets
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks),
        |pg AS (SELECT DISTINCT CASE WHEN doc_id % 3 = 2 THEN doc_id - 1
        |                            ELSE doc_id END AS p FROM documents),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc l JOIN pg ON pg.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |stale AS (SELECT *,
        |    date_diff('day', DATE '2026-02-01' + CAST(
        |      (least(p // (((SELECT n FROM nn) - 1) // 16 + 1), 15) // 4) * 10
        |      AS INTEGER), lastmod) AS stale_days
        |  FROM known),
        |gated AS (SELECT h, url, stale_days FROM stale
        |  WHERE stale_days > 0 AND NOT (
        |    CASE WHEN h = 3 THEN starts_with(CAST(p AS VARCHAR), '3')
        |              AND NOT starts_with(CAST(p AS VARCHAR), '35')
        |         ELSE NOT starts_with(CAST(p AS VARCHAR),
        |              CAST(h AS VARCHAR) || '5') END)),
        |q AS (SELECT 'd' || h || '.ex.test' AS host, url,
        |    CAST(stale_days AS BIGINT) AS stale_days,
        |    row_number() OVER (PARTITION BY h
        |      ORDER BY stale_days DESC, url) AS rn,
        |    CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS delay
        |  FROM gated)
        |SELECT host, url, stale_days, (rn - 1) * delay AS scheduled_offset_s
        |FROM q WHERE rn <= 3 ORDER BY host, url""".stripMargin),

    // Per-host CRAWL-HEALTH / trap-score report — the heuristic a real
    // crawler runs before throttling a host: fetches vs distinct
    // canonical urls (alias_rate — re-fetch waste from uncanonicalized
    // link forms) and fetches vs distinct CONTENT (content_dup_rate —
    // the mirror/calendar-trap signature: many fetches, few bodies).
    // One archive pass (canonicalize + html_text + md5 map-side), one
    // hash aggregate per host with map-side partials — the 100 TB shape
    // (distinct counts per host would switch to HLL at the scale tier;
    // the exact form is the oracle-able baseline). The fixture's alias
    // pairs drive alias_rate above 1; the shared 404 body drives
    // content_dup_rate above alias_rate on every host.
    QuerySpec("pipeline_crawl_trap_score", (s, dir) => {
      val parsed = graft.sources.Warc.httpParsed(
        graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
      val pages = parsed.select(
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          md5(graft.functions.HtmlTextColumn.htmlText(col("body")))
            .as("content_md5"))
        .filter(col("url").isNotNull)
      countDistincts(pages, Seq("host"), "n_fetches",
        "url" -> "n_urls", "content_md5" -> "n_contents")
        .select(col("host"), col("n_fetches"), col("n_urls"), col("n_contents"),
          round(col("n_fetches").cast("double") / col("n_urls"), 4)
            .as("alias_rate"),
          round(col("n_fetches").cast("double") / col("n_contents"), 4)
            .as("content_dup_rate"))
        .orderBy("host")
    },
      // the health report replays from the page arithmetic: fetches = docs
      // per host, urls = distinct canonical positions, contents = distinct
      // replayed text (404s collapse to one 'not found' per host; 200
      // texts are distinct within a host — the d≡d' mod 117 word-collision
      // pairs always land on different hosts and differ in the d%7 fake-
      // record suffix when they don't)
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |tx AS (SELECT d, p, p % 7 AS h,
        |  CASE WHEN d % 11 = 0 THEN 'not found'
        |       ELSE array_to_string(list_transform(range(0, d % 9 + 1),
        |              i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |         (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |  END AS text
        | FROM c),
        |g AS (SELECT h, count(*) AS n_fetches, count(DISTINCT p) AS n_urls,
        |    count(DISTINCT md5(text)) AS n_contents
        |  FROM tx GROUP BY h)
        |SELECT 'd' || h || '.ex.test' AS host,
        |  CAST(n_fetches AS BIGINT) AS n_fetches,
        |  CAST(n_urls AS BIGINT) AS n_urls,
        |  CAST(n_contents AS BIGINT) AS n_contents,
        |  round(n_fetches * 1.0 / n_urls, 4) AS alias_rate,
        |  round(n_fetches * 1.0 / n_contents, 4) AS content_dup_rate
        |FROM g ORDER BY host""".stripMargin),

    // PER-URL fetch-clock refresh — the production form of the lastmod
    // leg: instead of one snapshot date, each url's last-fetch time comes
    // from the streamed link index's urls table (min landed batch_id per
    // url — the ingest log IS the fetch log), so staleness is
    // lastmod − fetch_date per url. The fixture interplay is arithmetic
    // on both axes: fetch batch = floor(min(floor(p/chunk),15)/4) from
    // the range-partitioned segment layout (batch b fetched at
    // 2026-02-01 + 10b days — base aligned with the snapshot leg so the
    // stale/fresh boundary lands INSIDE the per-host top-12), lastmod = 2026-01-01 + p%60 days — so
    // early-fetched pages go stale more often, exactly the real-world
    // shape. Top-12 per host by staleness days (the boundary rows where
    // staleness goes negative surface in the output); one groupBy over the urls
    // table + broadcast-sized sitemap join, no rank chain needed.
    QuerySpec("pipeline_crawl_refresh_fetched", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val entries = sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapEntries(col("sitemap_xml")))
            .as("e"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("e.loc")).as("url"),
          to_date(col("e.lastmod")).as("lastmod"))
      val idx = s"${warcIngestPath(s, root, dir)}/links"
      val fetched = s.read.parquet(s"$idx/urls")
        .groupBy(col("url"))
        .agg(min(col("batch_id")).cast("bigint").as("fetch_batch"))
        .withColumn("fetch_date",
          date_add(to_date(lit("2026-02-01")),
            (col("fetch_batch") * 10).cast("int")))
      val w = Window.partitionBy(col("host"))
        .orderBy(desc("stale_days"), asc("url"))
      entries.join(fetched, Seq("url"))
        .withColumn("stale_days",
          datediff(col("lastmod"), col("fetch_date")).cast("bigint"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 12)
        .select(col("host"), col("url"), col("fetch_batch"),
          date_format(col("lastmod"), "yyyy-MM-dd").as("lastmod"),
          col("stale_days"), (col("stale_days") > 0).as("is_stale"),
          col("rn"))
        .orderBy("host", "rn")
    },
      // the fetch clock replays from the segment layout itself: chunk =
      // (n-1)//16 + 1, batch = min-id's file//4 (the min over a canonical
      // alias pair is the smaller id's batch — ids are range-partitioned),
      // fetch date 2026-02-01 + 10·batch; known-url condition as the
      // lastmod leg; staleness-days window, top-12 per host
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ks AS (SELECT h, k, h + 7*k AS p FROM range(7) t(h), range(40) t2(k)),
        |loc AS (SELECT h, k, p,
        |    'https://d' || h || '.ex.test/d/' || p ||
        |      (CASE WHEN k % 4 = 3 AND p % 5 = 0 AND p % 3 <> 2
        |            THEN '?a=1&b=2' ELSE '' END) AS url,
        |    DATE '2026-01-01' + CAST(p % 60 AS INTEGER) AS lastmod
        |  FROM ks),
        |pg AS (SELECT DISTINCT CASE WHEN doc_id % 3 = 2 THEN doc_id - 1
        |                            ELSE doc_id END AS p FROM documents),
        |known AS (SELECT l.h, l.p, l.url, l.lastmod
        |  FROM loc l JOIN pg ON pg.p = l.p
        |  WHERE l.p % 5 <> 0 OR l.k % 4 = 3),
        |fb AS (SELECT *,
        |    (least(p // (((SELECT n FROM nn) - 1) // 16 + 1), 15) // 4)
        |      AS fetch_batch
        |  FROM known),
        |st AS (SELECT h, url, fetch_batch,
        |    strftime(lastmod, '%Y-%m-%d') AS lastmod,
        |    date_diff('day', DATE '2026-02-01'
        |        + CAST(fetch_batch * 10 AS INTEGER), lastmod) AS stale_days,
        |    row_number() OVER (PARTITION BY h
        |      ORDER BY date_diff('day', DATE '2026-02-01'
        |          + CAST(fetch_batch * 10 AS INTEGER), lastmod) DESC,
        |        url) AS rn
        |  FROM fb)
        |SELECT 'd' || h || '.ex.test' AS host, url,
        |  CAST(fetch_batch AS BIGINT) AS fetch_batch, lastmod,
        |  CAST(stale_days AS BIGINT) AS stale_days,
        |  stale_days > 0 AS is_stale, CAST(rn AS BIGINT) AS rn
        |FROM st WHERE rn <= 12 ORDER BY host, rn""".stripMargin),

    // The crawl FRONTIER end-to-end — the integration of all four new
    // families: candidate urls parsed from the archives, canonical-alias
    // dedup, the robots gate, then PageRank-prioritized top-50 (rounded
    // rank DESC, node tiebreak). 404s stay in: the frontier is pre-fetch,
    // status is unknown at scheduling time.
    QuerySpec("pipeline_crawl_frontier", (s, dir) => {
      val cand = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
        .filter(col("url").isNotNull)
        .distinct() // canonical aliases collapse (host/path agree per url)
        .withColumn("node", regexp_extract(col("path"), "/d/(\\d+)", 1).cast("long"))
      val h = col("id")
      val rules = s.range(7).select(
        concat(lit("d"), h, lit(".ex.test")).as("host"),
        graft.functions.Robots.disallowPrefixes(concat(
          lit("User-agent: fetchbot\nDisallow: /\n\nUser-agent: *\n"),
          when(h === 5, lit("Disallow:\n"))
            .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
          when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
          lit("Crawl-delay: 2\n"))).as("prefixes"))
      val allowed = cand.join(broadcast(rules), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlocked(col("path"), col("prefixes")))
      // the rank signal comes from the link graph EXTRACTED out of the
      // archived HTML itself, via the PERSISTED rank index (crawlRanks) —
      // the query pays the scheduling join, not the 10-round walk
      allowed.join(crawlRanks(s, root, dir), Seq("node"))
        .select(col("url"), col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(desc("rank"), asc("node")).limit(50)
    }, crawlFrontierOracle),

    // GLOBAL FETCH-BUDGET APPORTIONMENT across hosts — the cycle-level
    // decision above pipeline_crawl_polite's per-host cut: a crawl has
    // B fetch slots per cycle (bandwidth/politeness bound) and must
    // split them across hosts in proportion to demand so that the
    // allocations are integers SUMMING EXACTLY to B. Hamilton /
    // largest-remainder apportionment: integer-divide each host's
    // quota, then hand the leftover slots to the largest remainders
    // (host-ascending tiebreak) — the standard apportionment with no
    // FP anywhere, so the oracle replays it digit-exact. Scale shape:
    // demand is one hash aggregate; everything after runs on the
    // HOST-cardinality table (tiny — the global window is over hosts,
    // never pages) with scalar broadcasts.
    QuerySpec("pipeline_crawl_budget", (s, dir) => {
      val B = 100L
      val parsed = graft.sources.Warc.httpParsed(
          graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
        .filter(col("http_status") === 200)
      val demand = parsed.select(lower(try_parse_url(
          graft.functions.Url.canonicalizeUrl(col("uri")), lit("HOST"))).as("host"))
        .groupBy("host").agg(count(lit(1)).as("demand"))
      val tot = demand.agg(sum("demand").as("total"))
      val q = demand.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"(demand * $B) div total"))
        .withColumn("rem", expr(s"(demand * $B) % total"))
      val leftover = q.agg((lit(B) - sum("base")).as("leftover"))
      val w = Window.orderBy(col("rem").desc, col("host"))
      q.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .select(col("host"), col("demand"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("allocated"))
        .orderBy("host")
    },
      // Budget replay: the same Hamilton arithmetic over the replayed
      // per-host 200-page demand — `//` and `%` on BIGINTs, leftover to
      // the largest remainders, host-ascending tiebreak.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |h AS (SELECT 'd' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7)
        |  || '.ex.test' AS host FROM ids),
        |dm AS (SELECT host, count(*) AS demand FROM h GROUP BY host),
        |t AS (SELECT sum(demand) AS total FROM dm),
        |q AS (SELECT host, demand, (demand * 100) // total AS base,
        |  (demand * 100) % total AS rem FROM dm, t),
        |l AS (SELECT 100 - sum(base) AS leftover FROM q),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM q)
        |SELECT host, CAST(demand AS BIGINT) AS demand,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS allocated
        |FROM r, l ORDER BY host""".stripMargin),

    // Politeness-capped frontier — the per-HOST fetch budget every crawl
    // scheduler enforces: top-3 urls per host by rank, selected through
    // the bounded smallest_k HEAP (map-side partial, shuffle carries ≤ k
    // rows per host per task — never a per-host sort of the frontier);
    // the oracle replays the same cut in WINDOW form, so the green row
    // is another heap ≡ window equivalence proof. Selection orders by
    // the ROUNDED rank + node so the cut is cross-engine deterministic.
    QuerySpec("pipeline_crawl_polite", (s, dir) => {
      // ranks AND candidates come from the persisted crawl index (two
      // parquet reads, listing-keyed) — the scheduling query never
      // re-walks the graph and never re-parses the archive
      val ranks = crawlRanks(s, root, dir)
      val cand = crawlUrls(s, root, dir)
      val h = col("id")
      val rules = s.range(7).select(
        concat(lit("d"), h, lit(".ex.test")).as("host"),
        graft.functions.Robots.disallowPrefixes(concat(
          lit("User-agent: fetchbot\nDisallow: /\n\nUser-agent: *\n"),
          when(h === 5, lit("Disallow:\n"))
            .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
          when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
          lit("Crawl-delay: 2\n"))).as("prefixes"))
      val allowed = cand.join(broadcast(rules), Seq("host"), "left")
        .filter(!graft.functions.Robots.isBlocked(col("path"), col("prefixes")))
        .join(ranks, Seq("node"))
        .withColumn("rank", round(col("rank"), 6))
      allowed
        .groupBy("host")
        .agg(graft.functions.TopK.smallestK(
          struct((-col("rank")).as("nr"), col("node"), col("url"), col("rank")), 3).as("ks"))
        .select(col("host"), explode(col("ks")).as("k"))
        .select(col("host"), col("k.url").as("url"), col("k.node").as("node"),
          col("k.rank").as("rank"))
        .orderBy("host", "node")
    },
      // Window-form replay of the heap-selected per-host budget (heap ≡
      // window equivalence, the o4/curation_cap pattern), over the same
      // rank chain + frontier tiers.
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)",
      edgesCte = extractedEdgesCte) +
      """,
        |pg AS (SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |cand AS (SELECT p, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM pg),
        |allowed AS (SELECT * FROM cand WHERE NOT (
        |  CASE WHEN p % 7 = 5 THEN FALSE
        |       ELSE starts_with(CAST(p AS VARCHAR), CAST(p % 7 AS VARCHAR))
        |            OR (p % 7 = 6 AND starts_with(CAST(p AS VARCHAR), '16')) END)),
        |scored AS (SELECT 'd' || (a.p % 7) || '.ex.test' AS host, a.url, a.p AS node,
        |    round(r.rank, 6) AS rank,
        |    row_number() OVER (PARTITION BY a.p % 7
        |                       ORDER BY round(r.rank, 6) DESC, a.p) AS rn
        |  FROM allowed a JOIN r10 r ON r.node = a.p)
        |SELECT host, url, node, rank FROM scored WHERE rn <= 3
        |ORDER BY host, node""".stripMargin)),

    // The WHOLE curation build as one oracled query: quality gate →
    // near-dup cluster keeper (banded MinHash pairs + connected components
    // AMONG SURVIVORS) → per-source cap → exact stratified split, with a
    // per-document disposition. Stage COMPOSITION is what this proves
    // cross-engine: each downstream stage's windows/counts run over the
    // upstream survivors only — which is exactly where composition bugs
    // (caps computed pre-filter, split fractions over the raw corpus)
    // would hide. The oracle replays the full chain in one CTE, including
    // the recursive transitive closure over brute-force Jaccard pairs.
    QuerySpec("pipeline_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      // persist + count: the HOF-heavy gate would otherwise re-run in every
      // downstream branch (pair gen, assignment, keeper join, final select)
      val gated = docs.select(col("doc_id"), col("source"), col("text"),
        Curation.gopherPass(col("text"), stopwords = Seq("the", "a", "and"),
          minWords = 30).as("q_pass"))
        .persist()
      gated.count()
      val survivors = gated.filter(col("q_pass"))
      val pairs = Dedup.minhashBandedPairs(survivors, "text", "doc_id",
        n = 3, threshold = 0.7)
      // cutLineage on the two SHARED subtrees (r17 before-plan: 842 lines —
      // the final assembly re-derived them per join arm): `assign` feeds
      // the keeper filter AND the assembly AND (via ranked) the split, so
      // its post-CC join+size-aggregate ran 3× per action; `ranked` feeds
      // the split and the assembly (2×). One materialization each, then
      // every consumer scans the checkpointed blocks (guide §2.4 — share
      // one execution instead of re-deriving per consumer).
      val assign = Dedup.clusterAssignments(survivors, "doc_id", pairs)
        .cutLineage()
      val keepers = survivors
        .join(assign.filter(col("is_keeper")).select("doc_id"), Seq("doc_id"))
      val ranked = keepers.withColumn("cap_rank",
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(Curation.hashFraction(col("doc_id")), col("doc_id")))
          .cast("bigint"))
        .select(col("doc_id"), col("source"), col("cap_rank"))
        .cutLineage()
      val capped = ranked.filter(col("cap_rank") <= 15)
      val split = Curation.stratifiedSplit(capped, "doc_id", "source",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("split"))
      gated.select(col("doc_id"), col("source"), col("q_pass"))
        .join(assign.select(col("doc_id"), col("is_keeper")), Seq("doc_id"), "left")
        .join(ranked.select(col("doc_id"), col("cap_rank")), Seq("doc_id"), "left")
        .join(split, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(!col("q_pass"), "quality")
            .when(!col("is_keeper"), "near_duplicate")
            .when(col("cap_rank") > 15, "source_cap")
            .otherwise("kept").as("reason"),
          coalesce(col("split"), lit("")).as("split"))
        .orderBy(col("doc_id"))
    },
      // The full chain: gopher gate (same measurements as curation_gopher) →
      // brute-force Jaccard pairs + recursive transitive closure among the
      // survivors (same machinery as dedup_clusters, subset input) → cap
      // ranks over keepers (same hash order as curation_source_cap) → split
      // windows over the capped set (same cuts as curation_split).
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, source, text,
        |    string_split_regex(trim(text), '\s+') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, text,
        |    (len(words) BETWEEN 30 AND 100000)
        |      AND (CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
        |             / len(words) BETWEEN 3.0 AND 10.0)
        |      AND (CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
        |             / len(words) >= 0.8)
        |      AND (len(list_filter(words, x -> list_contains(['the', 'a', 'and'], x))) >= 2)
        |      AS q_pass
        |  FROM w),
        |surv AS (SELECT doc_id, source, text FROM g WHERE q_pass),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z\- ]', ' ', 'g'), ' '),
        |                x -> len(x) > 1) AS toks
        |  FROM surv),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
        |  FROM toks WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1,2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.7),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |keep AS (
        |  SELECT s.doc_id, s.source,
        |    coalesce(l.cluster_id, s.doc_id) = s.doc_id AS is_keeper
        |  FROM surv s LEFT JOIN labels l ON l.doc_id = s.doc_id),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |                 / 1152921504606846976.0, doc_id) AS cap_rank
        |  FROM keep WHERE is_keeper),
        |capped AS (SELECT doc_id, source FROM ranked WHERE cap_rank <= 15),
        |sp AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM capped),
        |spl AS (
        |  SELECT doc_id,
        |    CASE WHEN r <= floor(n * 0.1) THEN 'test'
        |         WHEN r <= floor(n * 0.2) THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM sp)
        |SELECT g.doc_id, g.source,
        |  CASE WHEN NOT g.q_pass THEN 'quality'
        |       WHEN NOT k.is_keeper THEN 'near_duplicate'
        |       WHEN r2.cap_rank > 15 THEN 'source_cap'
        |       ELSE 'kept' END AS reason,
        |  coalesce(spl.split, '') AS split
        |FROM g
        |LEFT JOIN keep k ON k.doc_id = g.doc_id
        |LEFT JOIN ranked r2 ON r2.doc_id = g.doc_id
        |LEFT JOIN spl ON spl.doc_id = g.doc_id
        |ORDER BY g.doc_id""".stripMargin),

    // Composed keep/drop decision — the C4/Gopher-shape filter pipeline
    // end-to-end: quality floor + language gate + repetition ceiling +
    // exact-dup keeper, one boolean per document. The keeper window is the
    // r6 addition and its one md5-partitioned exchange is the whole
    // r5→r6 cost delta (0.5→1.2 s at sf0.1); the aggregate-then-
    // broadcast-join alternative was A/B-measured SLOWER here (1.5-1.7 s)
    // because it scans and hashes the text column twice — see PLANS.md.
    QuerySpec("pipeline_keep", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextStats.qualityScore(col("text")).as("quality"),
          TextStats.langIdRules(col("text"), Seq(
            "en" -> Seq("the", "a"),
            "fr" -> Seq("le", "la"),
            "es" -> Seq("el", "los"))).as("lang"),
          (row_number().over(w) === 1).as("is_keeper"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.tokenize(col("text")).as("toks"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.bigramsOf(col("toks")).as("bigrams"))
        .select(col("doc_id"), col("quality"), col("lang"), col("is_keeper"),
          TextStats.repetitionFromBigrams(col("bigrams")).as("rep_score"))
        .withColumn("keep",
          col("quality") >= 0.8 && col("lang") === "en" &&
            col("rep_score") < 0.1 && col("is_keeper"))
        .orderBy("doc_id")
    },
      // The composed filter decision: each component reuses its standalone
      // oracle's formulation (quality, lang cascade, bigram repetition,
      // min-id-per-md5 keeper).
      """WITH base AS (
        |  SELECT doc_id, text,
        |    round(0.4 * (CASE WHEN len(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END)
        |        + 0.4 * (len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text))
        |        + 0.2 * (CASE WHEN (len(text) + 1) * 1.0 / len(string_split(trim(text), ' '))
        |                      BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6) AS quality,
        |    (min(doc_id) OVER (PARTITION BY md5(text))) = doc_id AS is_keeper
        |  FROM documents),
        |lang AS (
        |  SELECT doc_id,
        |    CASE WHEN h_en = m AND m > 0 THEN 'en'
        |         WHEN h_fr = m AND m > 0 THEN 'fr'
        |         WHEN h_es = m AND m > 0 THEN 'es'
        |         ELSE 'und' END AS lang
        |  FROM (
        |    SELECT doc_id,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))) AS h_en,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))) AS h_fr,
        |      len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los'))) AS h_es,
        |      greatest(
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('the', 'a'))),
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('le', 'la'))),
        |        len(list_filter(string_split(lower(text), ' '), x -> x IN ('el', 'los')))) AS m
        |    FROM documents)),
        |tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(regexp_replace(lower(text), '[^a-z- ]', ' ', 'g'), ' +'),
        |    t -> len(t) > 1) AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams
        |  FROM tk),
        |rep AS (
        |  SELECT doc_id, CASE WHEN len(bigrams) > 0
        |    THEN round(1.0 - len(list_distinct(bigrams))*1.0/len(bigrams), 6)
        |    ELSE 0.0 END AS rep_score
        |  FROM bg)
        |SELECT b.doc_id, b.quality, l.lang, b.is_keeper, r.rep_score,
        |  (b.quality >= 0.8 AND l.lang = 'en' AND r.rep_score < 0.1 AND b.is_keeper) AS keep
        |FROM base b JOIN lang l USING (doc_id) JOIN rep r USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin)
  )
}
