package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Checkpoints.LineageOps

/** Link-graph analytics for crawl-scale corpora (beyond-reference: the
  * reference has no graph operators — its closest relative is the DOI
  * resolution network, `/root/reference/synth/doi.py`, which never ranks.
  * A web-corpus pipeline ranks hosts/pages for crawl prioritization and
  * training-data importance weighting — Common Crawl itself publishes
  * exactly these rankings for its frontier).
  *
  * PageRank by power iteration over DataFrames, global or personalized.
  * The canonical formulation with a teleport vector `t` (uniform 1/N for
  * the global walk; uniform over a seed set for the personalized one —
  * the domain-focused crawl-prioritization variant) and dangling-node
  * mass re-teleported through the same vector each round:
  *
  *   r'(v) = (1-d)·t(v) + d · ( Σ_{u→v} r(u)/outdeg(u)  +  t(v)·Σ_{dangling u} r(u) )
  *
  * Scale shape (the one-shuffle-per-iteration layout):
  *  - `edges` is deduped, hash-partitioned by `src` ONCE and materialized
  *    — loop-invariant, so every iteration's rank⋈edges join reuses the
  *    layout without an exchange;
  *  - `outdeg` aggregates over that same layout (map-side, no shuffle);
  *  - the teleport vector is materialized once beside the node set (a
  *    seed-set membership left-join, not a per-round lookup);
  *  - the only data-bearing exchange per iteration is the contribution
  *    transpose (`groupBy(dst)`) — the theoretical minimum for a
  *    distributed power iteration;
  *  - the dangling mass is a 1-row aggregate broadcast back into the
  *    update, never a driver-side collect;
  *  - each new rank vector is an eager lineage cut ([[Checkpoints]]:
  *    reliable `checkpoint` when a checkpoint dir is configured —
  *    executor-loss-safe on a real cluster — else `localCheckpoint`):
  *    the logical
  *    plan truncates to a LogicalRDD every round (each round references
  *    the vector three times, so an un-truncated lineage grows ~3^k) and
  *    the node hash layout is preserved; predecessors become
  *    unreferenced and the ContextCleaner reclaims their blocks.
  *
  * Iteration count is a fixed parameter (crawl ranking runs a fixed
  * budget, typically 10-20 rounds — convergence detection would add an
  * action per round for a stopping rule nobody tunes); determinism across
  * engines comes from rounding the published ranks, not the arithmetic.
  */
object Graph {

  /** Ranks for every node of the graph (union of both edge endpoints),
    * as (node: long, rank: double — unrounded). Self-loops participate
    * like any other edge; duplicate edges collapse.
    *
    * `seeds` personalizes the walk: teleport mass spreads uniformly over
    * the seed node set instead of all nodes (seeds outside the graph's
    * node set still absorb teleport weight in the 1/|S| share — they are
    * simply unreachable, the standard convention). `None` is the global
    * walk.
    *
    * `init` warm-starts the iteration from a previous rank vector (node,
    * rank) — the crawl-cadence move: after a segment of new edges lands,
    * a few warm rounds on the grown graph recover the accuracy of a full
    * cold run (power iteration is a contraction, so any start converges
    * to the same fixed point; a near-fixed-point start just needs fewer
    * rounds). Nodes absent from `init` (the new crawl's new pages) start
    * at their teleport weight. PRODUCTION CONTRACT at crawl cadence:
    * warm-only — persist the converged vector, feed it back as `init`
    * with a small round budget when the graph grows. The
    * `graph_pagerank_incremental` query ALSO recomputes the cold
    * 10-round walk inline, but only as its oracle's proximity GATE
    * (pinned-TRUE convention: a drifting warm start flips the row red);
    * that demo gate is test harness, never the API to ship — at 100×
    * scale the cold walk is exactly the cost the warm start exists to
    * avoid.
    *
    * `weightCol` makes the walk weighted — mass leaves `u` proportional
    * to each edge's weight over `u`'s total out-weight (the host-graph
    * contraction shape, where weight = link multiplicity). Parallel
    * (src, dst) rows SUM their weights; unweighted edges dedup instead.
    */
  def pageRank(edgesRaw: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85,
      seeds: Option[DataFrame] = None, seedCol: String = "node",
      init: Option[DataFrame] = None,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val src = col(srcCol).cast("long").as("src")
    val dst = col(dstCol).cast("long").as("dst")
    val edges = (weightCol match {
      case Some(wc) => edgesRaw.select(src, dst, col(wc).cast("double").as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
      case None => edgesRaw.select(src, dst).distinct()
        .withColumn("w", lit(1.0)) // sum(1.0) == count: bit-identical path
    }).repartition(col("src"))
      .cutLineage() // loop-invariant; checkpoint keeps the src layout
    // rename at the derivation boundary: outdeg's key would otherwise
    // keep edges' src exprId and make every iteration's join ambiguous
    val outdeg = edges.groupBy("src")
      .agg(sum("w").as("deg"))
      .select(col("src").as("deg_src"), col("deg"))
      .cutLineage()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .repartition(col("node"))
      .cutLineage()
    val n = nodes.count().toDouble

    // the teleport vector, node-aligned and loop-invariant
    val tele = (seeds match {
      case Some(sd) =>
        val seedSet = sd.select(col(seedCol).cast("long").as("seed")).distinct()
          .cutLineage()
        val k = seedSet.count().toDouble
        require(k > 0, "seeds must be non-empty")
        nodes.join(broadcast(seedSet), col("node") === col("seed"), "left")
          .select(col("node"),
            when(col("seed").isNotNull, lit(1.0 / k)).otherwise(lit(0.0)).as("tele"))
      case None =>
        nodes.select(col("node"), lit(1.0 / n).as("tele"))
    }).repartition(col("node")).cutLineage()

    // eager localCheckpoint per iteration: truncates the logical plan to
    // a LogicalRDD (each round references the rank vector three times, so
    // an un-truncated lineage grows ~3^k and chokes planning/explain long
    // before data does) and keeps the node hash layout; predecessors are
    // reclaimed by the ContextCleaner once unreferenced.
    //
    // The vector carries the LOOP-INVARIANT per-node terms — teleport
    // weight and out-degree — alongside the rank (r17, guide §2.4): the
    // old shape re-joined ranks⋈outdeg and ranks⋈tele EVERY round, and
    // the outdeg join was evaluated twice per round (once under the
    // dangling-mass broadcast, once under the contribution transpose).
    // With (tele, deg) riding the checkpointed vector, a round is exactly
    // one edges join + one groupBy(dst) exchange + one vector⋈contribs
    // join; the dangling mass is a plain 1-stage aggregate over the
    // checkpointed vector (no join at all). The update arithmetic is
    // unchanged term for term. The per-round explicit repartition is also
    // gone: the vector⋈contribs join streams the vector side, so its
    // hash(node) layout survives into the checkpoint without an extra
    // exchange.
    val base = tele.join(outdeg, col("node") === col("deg_src"), "left")
      .select(col("node"), col("tele"), col("deg"))
    var ranks = (init match {
      case Some(r0) =>
        base.join(r0.select(col("node").cast("long").as("__inode"),
            col("rank").cast("double").as("__irank")),
          col("node") === col("__inode"), "left")
          .select(col("node"), col("tele"), col("deg"),
            coalesce(col("__irank"), col("tele")).as("rank"))
      case None => base.withColumn("rank", col("tele"))
    }).repartition(col("node")).cutLineage()
    (1 to iterations).foreach { _ =>
      val dangling = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      val contribs = ranks.filter(col("deg").isNotNull)
        .join(edges, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") * col("w") / col("deg")).as("contrib"))
      val next = ranks
        .join(contribs, ranks("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(ranks("node"), ranks("tele"), ranks("deg"),
          (lit(1 - damping) * col("tele") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dmass") * col("tele"))).as("rank"))
        .cutLineage()
      ranks = next
    }
    ranks.select(col("node"), col("rank"))
  }

  /** HITS (Kleinberg) hubs & authorities — the other classic link-analysis
    * kernel, L1-normalized each half-step so scores stay interpretable as
    * mass shares. Per iteration:
    *
    *   a(v) = Σ_{u→v} h(u), normalized;  h(u) = Σ_{u→v} a(v), normalized.
    *
    * Same iterative discipline as [[pageRank]]: edges deduped and
    * checkpointed once, every aggregate two-phase (the two transposes —
    * one per direction — are the only data exchanges), normalization
    * totals are driver scalars read off the cut half-step (no 1-row cross
    * join), and each half-step vector is an eager localCheckpoint. Nodes
    * with no in-edges score authority 0; no out-edges, hub 0 (after the
    * first round).
    *
    * Returns (node: long, hub: double, authority: double), unrounded.
    */
  def hits(edgesRaw: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val edges = edgesRaw
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .cutLineage()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .repartition(col("node"))
      .cutLineage()
    val n = nodes.count().toDouble

    // The iteration runs on SPARSE vectors (r18): only nodes with at
    // least one in-edge ever carry authority, only nodes with at least
    // one out-edge ever carry hub — and the transposes join on exactly
    // those populations (every `dst` HAS an in-edge, every `src` an
    // out-edge), so the zero-scored nodes contribute nothing to any
    // round. The old shape re-aligned each half-step's scores to the
    // FULL node set (nodes left-join + repartition + checkpoint, twice
    // per round) just to carry zeros through; deferring that zero-fill
    // to the final output halves the per-round actions and removes two
    // full-vector exchanges per round (guide §2.4). Arithmetic for every
    // scored node is unchanged term for term: a/atot where atot sums the
    // same raw transpose; each half-step still cuts the RAW transpose
    // once (r17) so the normalization total and the next join read one
    // materialized frame.
    // `c` over the half-step's L1 total, read on the driver off the
    // already-cut frame (one small job). The total is divided in by a
    // closure, not a literal: a double literal is inlined into the
    // generated code, so a new total every half-step recompiled that
    // stage's code every time (50 Janino compiles per warm graph_hits run
    // at sf0.01, +1 s), while a closure rides in the code's references
    // and the compiled code is reused. An empty half-step sums to NULL;
    // its frame is empty too, so the divisor is never applied.
    def normalized(raw: DataFrame, c: String): Column = {
      val t = raw.agg(sum(c)).head()
      val tot = if (t.isNullAt(0)) Double.NaN else t.getDouble(0)
      udf((x: Double) => x / tot).apply(col(c))
    }
    var hub = nodes.select(col("node"), lit(1.0 / n).as("hub")).cutLineage()
    var auth: DataFrame = null
    (1 to iterations).foreach { _ =>
      val rawAuth = hub.join(edges, col("node") === col("src"))
        .groupBy(col("dst")).agg(sum("hub").as("a"))
        .cutLineage()
      auth = rawAuth.select(col("dst").as("node"), normalized(rawAuth, "a").as("auth"))
      val rawHub = auth.join(edges, col("node") === col("dst"))
        .groupBy(col("src")).agg(sum("auth").as("hh"))
        .cutLineage()
      hub = rawHub.select(col("src").as("node"), normalized(rawHub, "hh").as("hub"))
    }
    // zero-fill against the full node set ONCE: nodes with no in-edges
    // score authority 0, no out-edges hub 0 — same values the per-round
    // dense alignment used to produce (coalesce(x, 0)/tot == 0.0 exactly)
    nodes
      .join(hub.select(col("node").as("__hn"), col("hub")),
        col("node") === col("__hn"), "left")
      .join(auth.select(col("node").as("__an"), col("auth")),
        col("node") === col("__an"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("authority"))
  }

  /** Label-propagation community detection (Raghavan et al. 2007) in
    * its DETERMINISTIC synchronous form: labels start as node ids;
    * each round EVERY node simultaneously takes the most frequent
    * label among its neighbors, smallest label on ties. The async
    * random-order variant converges faster but is irreproducible — a
    * non-starter for an oracled pipeline; fixed-round synchronous
    * updates replay exactly (each round is one materialized CTE in the
    * oracle). Communities are finer than weak components (a component
    * splits where link density does) — the site-section / topic-blob
    * granularity crawl analysts budget by.
    *
    * Scale shape, same discipline as [[pageRank]]: symmetrized deduped
    * edges hash-partitioned once and checkpointed (loop-invariant);
    * per round ONE label⋈edges join + one (node, label) count
    * aggregate + one per-node argmax — all map-side partial before
    * their single exchange; argmax through `max(struct(cnt, -label))`
    * (no per-node sort, ties to the SMALLEST label); each new labeling
    * eagerly localCheckpoints so the plan stays constant-size.
    *
    * Returns (node: long, community: long) after exactly `iterations`
    * rounds. Self-loop EDGES are dropped, but each node's own CURRENT
    * label always casts one vote: pure neighbor-voting in the
    * synchronous form oscillates forever on any pendant pair (5⇄6 swap
    * labels every round — the known bipartite artifact GraphFrames'
    * synchronous LPA documents), while the single self-vote damps the
    * swap (the pair ties and the min label wins for both) without
    * letting sparse first rounds flood: a denser neighborhood outvotes
    * the self immediately.
    */
  def labelPropagation(edgesRaw: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val raw = edgesRaw
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val edges = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .cutLineage()
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .cutLineage()
    (1 to iterations).foreach { _ =>
      val votes = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("vnode"), col("lab"))
        .unionByName(labels.select(col("node").as("vnode"), col("lab")))
      labels = votes
        .groupBy(col("vnode"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("vnode"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("vnode").as("node"), (-col("m.nl")).as("lab"))
        .cutLineage()
    }
    labels.select(col("node"), col("lab").as("community"))
  }
}
