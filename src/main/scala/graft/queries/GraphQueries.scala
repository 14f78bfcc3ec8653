package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import QueryCommon._

/** Link-graph kernels: PageRank, HITS, components and label propagation.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object GraphQueries {

  /** Self-loop-free undirected pair view of an edge table — the CC
    * operators' input shape.
    */
  private def componentPairs(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))

  /** Assemble per-node component rows from a CC labeling over the edge
    * table's node set: singletons (self-loop-only nodes carry no pair)
    * via the left join, sizes as a count over the component's window.
    * Shared by `graph_components` and its incremental twin so the two
    * queries can only differ in HOW the labeling was computed.
    *
    * The size is a window, not a join back to a grouped count: a
    * self-join through an aggregate let AQE pick its join per run from
    * whichever side's shuffle finished first (a shuffled join, or a
    * broadcast of either side), and each pick is different generated
    * code, so warm runs compiled anew.
    */
  private def componentAssembly(edges: DataFrame, labeling: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    val labels = labeling
      .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component_id"), col("node")).as("component_id"))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy("component_id")))
      .orderBy("node")
  }

  /** The rank index for ANY edge table, fingerprint-keyed — so the full
    * graph's ranks and a PRIOR crawl state's ranks (the refresh
    * pipeline's warm-start input) each persist once and coexist. Content
    * keying here is for edges that are CHEAP to evaluate (the arithmetic
    * graphs); edges extracted from ingested state key off their ingest
    * metadata instead (`PipelineQueries.ranksForLinkIndex`,
    * `PipelineQueries.crawlIndexPath`).
    */
  private def ranksFor(s: SparkSession, root: String, edges: DataFrame): DataFrame = {
    val path = ensureIndex(s, root, edges, "crawlrank", "ranks") { p =>
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10)
        .write.mode("overwrite").parquet(s"$p/ranks")
    }
    s.read.parquet(s"$path/ranks")
  }

  /** The `graph_pagerank[_seeded]` oracle generator: one MATERIALIZED CTE
    * per power iteration, mirroring `Graph.pageRank`'s teleport-vector
    * update rule term for term (init = teleport, per-round dangling mass
    * re-teleported, damping 0.85). `teleCte` defines the `tele(node,
    * tele)` table — uniform 1/N for the global walk, a seed-membership
    * CASE for the personalized one.
    */
  private def pagerankOracleFor(teleCte: String): String =
    pagerankChain(teleCte) +
      "\nSELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node"

  /** Weak-components closure over the extracted link graph — shared by
    * `graph_components` and `graph_components_incremental` (green on the
    * incremental twin = star-warm-start ≡ from-scratch equivalence).
    * DISTINCT over UNION ALL for the non-recursive members: inside a
    * WITH RECURSIVE list DuckDB does not set-dedup a bare UNION there
    * (observed: 728+728 rows surviving).
    */
  private lazy val graphComponentsOracle: String =
    ("""WITH RECURSIVE ids AS (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + """
      |sym AS (SELECT DISTINCT a, b FROM (
      |        SELECT src AS a, dst AS b FROM edges WHERE src <> dst
      |        UNION ALL SELECT dst, src FROM edges WHERE src <> dst)),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a),
      |nodes AS (SELECT DISTINCT node FROM (
      |        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      |labels AS (SELECT a AS node, least(a, min(b)) AS component_id
      |           FROM reach GROUP BY a),
      |lab AS (SELECT n.node, coalesce(l.component_id, n.node) AS component_id
      |        FROM nodes n LEFT JOIN labels l ON l.node = n.node),
      |csizes AS (SELECT component_id, count(*) AS component_size
      |           FROM lab GROUP BY 1)
      |SELECT lab.node, lab.component_id, csizes.component_size
      |FROM lab JOIN csizes USING (component_id)
      |ORDER BY lab.node""".stripMargin)

  private val pagerankOracle: String = pagerankOracleFor(
    "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)")

  /** `graph_pagerank_hosts`' oracle: the weighted walk over the
    * host-contracted graph — weighted out-degree, `rank * w / deg`
    * contributions, same dangling/teleport structure.
    */
  private val hostPagerankOracle: String = {
    def round(t: Int): String =
      s"""r$t AS MATERIALIZED (
         |  SELECT tl.node,
         |    (1 - 0.85) * tl.tele
         |    + 0.85 * (COALESCE(c.contrib, 0)
         |      + (SELECT COALESCE(sum(r.rank), 0) FROM r${t - 1} r
         |         LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL)
         |        * tl.tele) AS rank
         |  FROM tele tl LEFT JOIN (
         |    SELECT e.hdst AS node, sum(r.rank * e.w / o.deg) AS contrib
         |    FROM r${t - 1} r JOIN outdeg o ON r.node = o.src
         |                     JOIN hedges e ON e.hsrc = r.node
         |    GROUP BY e.hdst) c ON tl.node = c.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + "\n" +
    """hedges AS MATERIALIZED (
      |  SELECT src % 7 AS hsrc, dst % 7 AS hdst, CAST(count(*) AS DOUBLE) AS w
      |  FROM edges WHERE src % 7 <> dst % 7 GROUP BY 1, 2),
      |nodes AS MATERIALIZED (SELECT hsrc AS node FROM hedges UNION SELECT hdst FROM hedges),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |outdeg AS MATERIALIZED (SELECT hsrc AS src, sum(w) AS deg FROM hedges GROUP BY hsrc),
      |tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes),
      |r0 AS MATERIALIZED (SELECT node, tele AS rank FROM tele),
      |""".stripMargin +
      (1 to 10).map(round).mkString(",\n") +
      "\nSELECT node, round(rank, 6) AS rank FROM r10 ORDER BY node"
  }

  /** `graph_hits`' oracle: every half-step (raw transpose, L1-normalize)
    * of all 8 rounds as generated MATERIALIZED CTEs, mirroring
    * `Graph.hits` term for term.
    */
  private val hitsOracle: String = {
    def round(t: Int): String =
      s"""ra$t AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS a
         |  FROM h${t - 1} h JOIN edges e ON e.src = h.node GROUP BY e.dst),
         |a$t AS MATERIALIZED (SELECT n.node,
         |  COALESCE(r.a, 0) / (SELECT sum(a) FROM ra$t) AS auth
         |  FROM nodes n LEFT JOIN ra$t r ON n.node = r.node),
         |rh$t AS MATERIALIZED (SELECT e.src AS node, sum(a.auth) AS hh
         |  FROM a$t a JOIN edges e ON e.dst = a.node GROUP BY e.src),
         |h$t AS MATERIALIZED (SELECT n.node,
         |  COALESCE(r.hh, 0) / (SELECT sum(hh) FROM rh$t) AS hub
         |  FROM nodes n LEFT JOIN rh$t r ON n.node = r.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte + "\n" +
    """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |h0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes),
      |""".stripMargin +
      (1 to 8).map(round).mkString(",\n") +
      """
        |SELECT n.node, round(h.hub, 6) AS hub, round(a.auth, 6) AS authority
        |FROM nodes n JOIN h8 h ON n.node = h.node JOIN a8 a ON n.node = a.node
        |ORDER BY n.node""".stripMargin
  }

  /** Seeds are every 17th doc id — counted over the ID set (the operator's
    * convention: out-of-graph seeds still take their 1/|S| teleport share
    * and are simply unreachable), teleport landing only on seed NODES.
    */
  private val pagerankSeededOracle: String = pagerankOracleFor(
    """sk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM ids WHERE d % 17 = 0),
      |tele AS MATERIALIZED (
      |  SELECT node, CASE WHEN node % 17 = 0 THEN 1.0 / (SELECT k FROM sk)
      |               ELSE 0.0 END AS tele FROM nodes)""".stripMargin)

  def specs(root: String): Seq[QuerySpec] = Seq(
    // Link-graph ranking (operators/Graph.pageRank): 10 power-iteration
    // rounds with dangling-mass redistribution over an arithmetic link
    // graph (every non-d%5 doc links to 1 + d%3 targets; d%5==0 docs are
    // dangling — 100 of them at sf0.01, so the redistribution term is
    // live). The oracle replays all 10 rounds as MATERIALIZED chained
    // CTEs (the BPE-fold posture for iterative kernels); ranks rounded to
    // 6 dp per the float-agg convention, verified against an independent
    // NumPy replica during development.
    QuerySpec("graph_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      val edges = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }, pagerankOracle),

    // Host-graph contraction + WEIGHTED PageRank — what Common Crawl
    // actually ranks: pages contract to their host (node % 7 here),
    // intra-host links drop, parallel links become edge WEIGHTS (link
    // multiplicity), and mass leaves a host proportional to per-link
    // share. 7 hosts either way; weights follow the extracted graph.
    QuerySpec("graph_pagerank_hosts", (s, dir) => {
      // contraction over the EXTRACTED link graph: node % 7 IS the
      // fixture's actual host (canonical path ids carry their host in
      // the residue), so this ranks the hosts of real archived content —
      // intra-host links drop, parallel page-level links become edge
      // weights, mass leaves a host by per-link share
      val hostEdges = warcLinkEdges(s, root, dir)
        .select(pmod(col("src"), lit(7)).as("hsrc"), pmod(col("dst"), lit(7)).as("hdst"))
        .filter(col("hsrc") =!= col("hdst"))
        .groupBy("hsrc", "hdst").agg(count(lit(1)).cast("double").as("w"))
      graft.operators.Graph.pageRank(hostEdges, "hsrc", "hdst", iterations = 10,
          weightCol = Some("w"))
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }, hostPagerankOracle),

    // INCREMENTAL PageRank — the crawl-cadence claim, gated: rank the
    // old graph (srcs below 0.8N — a previous crawl), append the new
    // segment, run only 5 WARM rounds on the grown graph, and gate the
    // warm vector within 1e-3 (max abs) of the from-scratch 10-round
    // walk. Output = the cold ranks (hash-replayed by the shared chain
    // oracle) + the pinned-TRUE gate, the events_dau_sketch convention;
    // NumPy margins ≥3x at both SFs (warm-5 diff 3.3e-4 / 7.6e-5).
    QuerySpec("graph_pagerank_incremental", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      def edgesFrom(ids: DataFrame) = ids
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      val edges = edgesFrom(docs)
      val oldEdges = edgesFrom(docs.filter(col("doc_id") < lit(nDocs * 4 / 5)))
      // the previous crawl's ranks are PERSISTED state (ranksFor,
      // fingerprint-keyed) — the warm start reads them, never re-walks
      val oldRanks = ranksFor(s, root, oldEdges)
      val warm = graft.operators.Graph.pageRank(edges, "src", "dst", 5,
          init = Some(oldRanks))
        .select(col("node"), col("rank").as("wrank"))
      val cold = graft.operators.Graph.pageRank(edges, "src", "dst", 10)
      val gate = warm.join(cold, Seq("node"))
        .agg(max(abs(col("wrank") - col("rank"))).as("m"))
        .first().getDouble(0) <= 1e-3
      cold.select(col("node"), round(col("rank"), 6).as("rank"),
          lit(gate).as("warm_within_tol"))
        .orderBy("node")
    },
      // Cold ranks replay exactly (same chain); the warm-walk proximity
      // gate is Spark-computed and pinned TRUE (the recall-gate
      // convention — a drifting warm start flips it and the row goes red).
      (pagerankChain(
      "tele AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS tele FROM nodes)") +
      "\nSELECT node, round(rank, 6) AS rank, TRUE AS warm_within_tol FROM r10 ORDER BY node")),

    // HITS hubs & authorities (Graph.hits) over the same link graph —
    // the directory-page/content-page decomposition a crawl uses to find
    // index pages. 8 L1-normalized rounds; oracle replays every
    // half-step as generated MATERIALIZED CTEs, NumPy-cross-checked.
    QuerySpec("graph_hits", (s, dir) => {
      // hubs/authorities of the EXTRACTED link graph — the directory-
      // page/content-page decomposition over real archived content,
      // like the host contraction
      graft.operators.Graph.hits(warcLinkEdges(s, root, dir), "src", "dst",
          iterations = 8)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node")
    }, hitsOracle),

    // WEAKLY-CONNECTED components of the extracted link graph — the
    // site-cluster / mirror-family analysis a crawl runs before host
    // policies (a mirror farm is one component; budget it once). Reuses
    // the dedup tier's pointer-jump CC (log-diameter rounds, eager
    // per-round localCheckpoint — the 100 TB shape) over the symmetrized
    // edge set; component id = min node id, singletons via the left join
    // (a page that only self-links). Oracled as a recursive-CTE closure.
    QuerySpec("graph_components", (s, dir) => {
      val edges = warcLinkEdges(s, root, dir).localCheckpoint() // extract once
      componentAssembly(edges,
        graft.operators.Dedup.duplicateClusters(componentPairs(edges)))
    },
      // Weak components: transitive closure over the symmetrized extracted
      // edges (the dedup_phash_clusters recursive-CTE pattern), component
      // id = min reachable node.
      graphComponentsOracle),

    // LABEL-PROPAGATION COMMUNITIES (Graph.labelPropagation, the
    // deterministic synchronous LPA): finer than weak components — a
    // component splits where link density does, the site-section /
    // topic-blob granularity crawl analysts budget by. 5 synchronized
    // rounds, ties to the smallest label, so the recursive oracle
    // replays every round exactly. Sizes as a window count, for the
    // reason componentAssembly gives.
    QuerySpec("graph_lpa", (s, dir) => {
      graft.operators.Graph.labelPropagation(
          warcLinkEdges(s, root, dir), "src", "dst", iterations = 5)
        .select(col("node"), col("community"),
          count(lit(1)).over(Window.partitionBy("community")).as("community_size"))
        .orderBy("node")
    },
      // LPA replay: one materialized CTE per synchronous round over the
      // symmetrized extracted edges — per-node argmax via QUALIFY with
      // the identical (count DESC, label ASC) order.
      {
      def round(t: Int): String =
        s"""r$t AS MATERIALIZED (
           |  SELECT node, lab FROM (
           |    SELECT node, lab, count(*) AS c FROM (
           |      SELECT e.dst AS node, l.lab AS lab
           |      FROM sed e JOIN r${t - 1} l ON l.node = e.src
           |      UNION ALL SELECT node, lab FROM r${t - 1})
           |    GROUP BY 1, 2)
           |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) = 1)""".stripMargin
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM ids),
        |""".stripMargin + extractedEdgesCte + "\n" +
      """sed AS MATERIALIZED (
        |  SELECT src, dst FROM edges WHERE src <> dst
        |  UNION
        |  SELECT dst, src FROM edges WHERE src <> dst),
        |r0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sed),
        |""".stripMargin +
      (1 to 5).map(round).mkString(",\n") + ",\n" +
      """sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
        |  FROM r5 GROUP BY lab)
        |SELECT r5.node, r5.lab AS community, sz.community_size
        |FROM r5 JOIN sz USING (lab) ORDER BY node""".stripMargin
    }),

    // INCREMENTAL component maintenance — the crawl-cadence form:
    // yesterday's labeling enters as star edges, only the pairs touching
    // the new node class (a re-crawled host's pages) are added, and the
    // relabeling must equal the from-scratch closure — SHARES
    // graph_components' recursive-CTE oracle, so green is the
    // equivalence proof (the dedup_phash_clusters_incremental posture,
    // on the link graph). Per-crawl cost = new pairs + touched history;
    // history is read as one labels table, never re-paired.
    QuerySpec("graph_components_incremental", (s, dir) => {
      val edges = warcLinkEdges(s, root, dir).localCheckpoint()
      val pairs = componentPairs(edges).localCheckpoint()
      val isNew = (c: Column) => pmod(c, lit(13)) === 5
      val hist = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
      val fresh = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      val prev = graft.operators.Dedup.duplicateClusters(hist)
      componentAssembly(edges,
        graft.operators.Dedup.incrementalClusters(prev, fresh))
    },
      // the SAME oracle: star-edge warm start + new-class pairs must
      // relabel identically to the from-scratch closure
      graphComponentsOracle),

    // Personalized PageRank: teleport restricted to every-17th doc id —
    // the domain-focused crawl-prioritization variant (rank pages by
    // proximity to a trusted seed set). Same operator, same oracle
    // generator with a seed-membership teleport CTE; mass leaks to
    // out-of-graph seeds by convention (they hold 1/|S| teleport shares
    // nobody can land on).
    QuerySpec("graph_pagerank_seeded", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val nDocs = docs.count()
      val edges = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id").as("src"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("src"),
          pmod(col("src") * 13 + col("j") * 17 + 1, lit(nDocs)).as("dst"))
      val seeds = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 10,
          seeds = Some(seeds), seedCol = "doc_id")
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }, pagerankSeededOracle)
  )
}
