package graft
package queries

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Helpers more than one query family uses: table loading, the index
  * root's build-once guard, and the WARC, crawl and graph fixtures the WARC,
  * pipeline and graph families share.
  */
object QueryCommon {

  private[graft] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private[queries] def fmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** `count(*)` as `rows`, and the exact `countDistinct` of each of `cols`
    * under its paired name, per `keys`. This is the plan Spark makes for
    * several `countDistinct`s in one `agg`: each input row becomes one row
    * per counted column, tagged with the column's position; one
    * aggregation groups by (keys, tag, value), a second by the keys. Spark
    * orders the columns by a hash of their expression ids, which are new
    * on every build of a query, so a rebuilt query planned them in another
    * order about half the time and compiled new code for it. Here the
    * order is the argument order. The counted columns share one type.
    */
  private[queries] def countDistincts(df: DataFrame, keys: Seq[String], rows: String,
      cols: (String, String)*): DataFrame =
    df.select(keys.map(col) :+
        posexplode(array(cols.map(c => col(c._1)): _*)).as(Seq("tag", "value")): _*)
      .groupBy((keys ++ Seq("tag", "value")).map(col): _*).agg(count(lit(1)).as("n"))
      .groupBy(keys.map(col): _*)
      .agg(coalesce(sum(when(col("tag") === 0, col("n"))), lit(0L)).as(rows),
        cols.zipWithIndex.map { case ((_, name), i) =>
          count(when(col("tag") === i && col("value").isNotNull, lit(1))).as(name)
        }: _*)

  /** Session memo for [[ensureIndex]]'s content fingerprint: the (count,
    * bit_xor) aggregate is a full corpus scan, and every index-backed query
    * re-derived it PER CALL — four times per query under Bench's warm +
    * median-of-3, ~47 call sites. The memo key is the index root, the
    * kind, the corpus frame's analyzed-plan semantic hash and the
    * [[Tables.listingKey]] (names + sizes) of every file-source root the plan reads — the same O(listing) freshness
    * model `fixturePathMemo` and the crawl-scheduling index already use, so
    * an in-place fixture regeneration (new sizes/names) re-fingerprints
    * instead of serving a stale key. Corpora with no file source (derived /
    * in-memory frames) skip the memo and scan as before. At 100 TB this is
    * the difference between an O(listing) freshness check and a corpus
    * scan per scheduling decision — the r16-blessed pattern, now applied
    * to every content-keyed index.
    */
  private[queries] val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[queries] def fingerprintScan(corpus: DataFrame): (Long, Long) = {
    val agg = corpus
      .select(xxhash64(corpus.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))
      .first()
    // bit_xor over zero rows is NULL — an empty corpus fingerprints as 0
    // instead of NPEing (the count-only predecessor handled empty fine)
    (agg.getLong(0), if (agg.isNullAt(1)) 0L else agg.getLong(1))
  }

  /** Build-once guard for the persisted ANN indexes the replay oracles
    * read: index lives under `<root>/<kind>/`, in a dir keyed by corpus
    * size AND a content fingerprint (xor of per-row xxhash64 over every
    * column — order-free, one corpus pass shared with the row count), so
    * sf0.01/sf0.1 runs
    * never clobber each other, the oracle can glob + filter on the
    * stamped n_corpus, and a REGENERATED same-size corpus forces a
    * rebuild instead of silently reusing a stale index. Stale siblings
    * with the same row count but a different fingerprint (or the old
    * count-only naming) are deleted so the oracle's wildcard glob +
    * n_corpus filter can never double-read. An existing matching index is
    * reused — the fit is seeded, so rebuilding would produce
    * byte-identical tables.
    *
    * `marker` MUST name the LAST table the writer emits (ivf/ivfpart →
    * "centroids"/"vectors", pq/ivfpqpart → "codes", bm25/bm25part →
    * "stats"): completeness is judged by that table's _SUCCESS, so a
    * crash mid-build leaves the marker absent and the next run rebuilds,
    * instead of a half-built index being treated as complete forever.
    *
    * SCALE NOTE on the key itself: this content fingerprint is ONE
    * pushed-down column scan of the raw corpus — acceptable for the ANN
    * family because the oracle contract pins the `n<rows>` naming (the
    * replay globs filter on it) and the cost amortizes per session. It
    * is NOT acceptable when the "corpus" is itself an expensive derived
    * computation — fingerprinting the extracted link graph cost a WARC
    * parse + resolution join per scheduling query (the r13 defect) —
    * which is what [[ensureIndexNamed]] + [[Tables.listingKey]] exist for:
    * key such indexes off their INGEST METADATA. At production scale
    * the listing key generalizes to the table's snapshot/commit id
    * (the changelog family's landed-batch convention).
    */
  private[graft] def ensureIndex(s: SparkSession, root: String, corpus: DataFrame, kind: String,
      marker: String)(write: String => Unit): String = {
    val analyzed = corpus.queryExecution.analyzed
    val roots: Seq[String] = analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    val (n, fp) =
      if (roots.isEmpty) fingerprintScan(corpus) // non-file corpus: no safe key
      else fingerprintMemo.computeIfAbsent(
        s"$root|$kind|${analyzed.semanticHash()}|" +
          roots.sorted.map(r => s"$r=${Tables.listingKey(s, r)}").mkString(","),
        _ => fingerprintScan(corpus))
    ensureIndexNamed(s, root, kind, f"n${n}_x$fp%016x", marker)(write)
  }

  /** [[ensureIndex]] with a caller-supplied key name — the entry point for
    * indexes whose freshness key is INGEST METADATA (a file listing, a
    * landed-batch roster) rather than a corpus-content fingerprint, so an
    * unchanged-state check costs O(listing) instead of a corpus scan.
    * Same layout, same stale-sibling cleanup, same crash posture (marker
    * table's `_SUCCESS` judges completeness).
    */
  private[graft] def ensureIndexNamed(s: SparkSession, root: String, kind: String,
      name: String, marker: String)(write: String => Unit): String = {
    val n = name.stripPrefix("n").takeWhile(_.isDigit)
    val base = s"$root/$kind"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val basePath = new org.apache.hadoop.fs.Path(base)
    if (fs.exists(basePath))
      fs.listStatus(basePath).foreach { st =>
        val nm = st.getPath.getName
        if (nm != name && (nm == s"n$n" || nm.startsWith(s"n${n}_")))
          fs.delete(st.getPath, true)
      }
    val path = s"$base/$name"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/$marker/_SUCCESS")))
      write(path)
    path
  }

  /** Shared WARC fixture for the `warc_*` queries: 16 gzipped archive
    * files synthesized from the documents ids (ensureIndex-keyed, so
    * sf0.01/sf0.1 coexist and a regenerated corpus forces a rebuild; the
    * `built` marker parquet is written LAST, after the raw files), read
    * back through the Content-Length record walk.
    */
  private[queries] def warcRecords(s: SparkSession, root: String, dir: String)
      : org.apache.spark.sql.Dataset[graft.sources.WarcRecord] =
    graft.sources.Warc.readRecords(s, s"${warcFixturePath(s, root, dir)}/files")

  /** Session-scoped memo for fixture index paths: the ensureIndex
    * fingerprint (count+xor over the documents ids) is a corpus-column
    * scan, and every warc/crawl query re-derived it per CALL — including
    * three times per query under Bench's median-of-3. The memo key
    * includes the index root and the sf dir's [[Tables.listingKey]]
    * (names+sizes of the parquet tables — an O(listing) stat, no data
    * read), NOT just the path
    * string: a long-lived session that regenerates a fixture dir in
    * place gets a fresh resolution instead of a stale path, so the
    * "testdata never changes within a JVM" assumption is checked per
    * call rather than assumed forever.
    */
  private[queries] val fixturePathMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), String]()

  /** The archive fixture's index dir — exposed separately from
    * [[warcRecords]] so the crawl scheduling index can key itself off the
    * fixture's SEGMENT LISTING (`$path/files` names+sizes) instead of
    * parsed content.
    */
  private[queries] def warcFixturePath(s: SparkSession, root: String, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warclqr", root, dir, Tables.listingKey(s, dir)), _ =>
      warcFixturePathUncached(s, root, dir))

  private[queries] def warcFixturePathUncached(s: SparkSession, root: String, dir: String): String = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    // kind "warclqr" (r15 bumps: q = unquoted anchors, r = relative
    // same-host anchors with dot segments) — payload-content changes
    // always bump the kind so a stale cache can never serve new oracles
    ensureIndex(s, root, ids, "warclqr", "built") { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$p/files"), true) // crash debris
      val n = graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/files",
        nFiles = 16, linkSpace = ids.count())
      s.range(1).select(lit(n).as("n_records")).write.mode("overwrite").parquet(s"$p/built")
    }
  }

  /** Node id of a canonical fixture URL — the path id the oracles'
    * arithmetic is stated in (a real corpus would use LinkIngest's
    * default url-hash nodes instead).
    */
  private[queries] val pathIdNode: Column => Column =
    u => regexp_extract(u, "/d/(\\d+)", 1).cast("long")

  /** The per-host robots.txt policy fixture shared by the robots-family
    * queries — one adversarial case per parser obligation (documented at
    * `warc_robots_gate`). The `Sitemap:` line rides INSIDE the fetchbot
    * decoy group on purpose: sitemap discovery is group-INDEPENDENT
    * (RFC 9309 §2.3), so it must surface even from a group whose rules
    * never apply — while the group's `Disallow: /` keeps not leaking.
    * Every host but 3 also declares a STACKED named-bot group
    * (`User-agent: graftbot` + `User-agent: newsbot` sharing one rule
    * block — the graftbot line is directive-less and must inherit, RFC
    * 9309 §2.1) whose rules gate `warc_robots_gate_bot` and must never
    * leak into the `*` tier; host 3 has none, proving the `*` fallback.
    */
  private[queries] def robotsPolicies(s: SparkSession): DataFrame = {
    val h = col("id")
    s.range(7).select(
      concat(lit("d"), h, lit(".ex.test")).as("host"),
      concat(
        lit("User-agent: fetchbot\nDisallow: /\nCrawl-delay: 99\n"),
        concat(lit("Sitemap: https://d"), h, lit(".ex.test/sitemap-"), h,
          lit(".xml\n")),
        lit("\n"),
        lit("User-agent: *bot\nDisallow: /\n\n"),
        when(h =!= 3, concat(
          lit("User-agent: graftbot\nUser-agent: newsbot\nDisallow: /d/\n"),
          lit("Allow: /d/"), h, lit("5\nCrawl-delay: 7\n\n")))
          .otherwise(lit("")),
        lit("User-agent: *\n"),
        when(h === 5, lit("Disallow:\n"))
          .otherwise(concat(lit("Disallow: /d/"), h, lit("\n"))),
        when(h === 6, lit("Disallow: /d/16\n")).otherwise(lit("")),
        when(h =!= 5, concat(lit("Allow: /d/"), h, lit("5\n"))).otherwise(lit("")),
        when(h === 4, lit("Disallow: /d/*7$\nAllow: /d/\n")).otherwise(lit("")),
        lit("Crawl-delay: 2\n")).as("robots_txt"))
  }

  /** Per-host sitemap DOCUMENTS — the XML the `Sitemap:` lines of
    * [[robotsPolicies]] point at, synthesized from host/position
    * arithmetic so the parse replays exactly. Each host's `<urlset>`
    * lists 43 `<loc>` entries (p = h + 7k for k < 40, then three
    * beyond-corpus pages at n + h + 7(k−40) — the genuinely-unseen seeds
    * a sitemap exists to surface), with three messiness classes the
    * parser and canonicalizer must erase: k%4==1 locs in shouting-caps-
    * with-port form, k%4==2 locs whitespace/newline-padded inside the
    * element, and k%4==3 locs of pages whose discovered canonical form
    * carries a query string (p%5==0, non-alias, in-corpus) written WITH
    * that query string XML-ESCAPED (`?a=1&amp;b=2`) — entity decoding
    * must fold these onto the discovered url or they surface as
    * spurious frontier seeds (the real-world `&amp;` defect). `lastmod`
    * is ARITHMETIC per entry — 2026-01-01 + (p % 60) days — so the
    * staleness tier replays exactly (entries past the 2026-02-01 fetch
    * snapshot, i.e. p%60 ≥ 32, are the stale class); `priority` stays a
    * decoy the extraction must ignore.
    */
  private[queries] def sitemapDocs(s: SparkSession, nDocs: Long): DataFrame = {
    val h = col("id")
    val entries = transform(sequence(lit(0), lit(42)), k => {
      val p = when(k < 40, h + k * 7)
        .otherwise(lit(nDocs) + h + (k - 40) * 7)
      val plain = concat(lit("https://d"), h, lit(".ex.test/d/"), p)
      val loud = concat(lit("HTTPS://D"), h, lit(".EX.TEST:443/d/"), p)
      val escapedQuery = concat(plain, lit("?a=1&amp;b=2"))
      val loc = when(pmod(k, lit(4)) === 1, loud)
        .when(pmod(k, lit(4)) === 2, concat(lit("\n      "), plain, lit("  \n    ")))
        .when(pmod(k, lit(4)) === 3 && k < 40 &&
          pmod(p, lit(5)) === 0 && pmod(p, lit(3)) =!= 2, escapedQuery)
        .otherwise(plain)
      val lastmod = date_format(
        date_add(to_date(lit("2026-01-01")), pmod(p, lit(60)).cast("int")),
        "yyyy-MM-dd")
      concat(lit("  <url><loc>"), loc,
        lit("</loc><lastmod>"), lastmod,
        lit("</lastmod><priority>0.5</priority></url>\n"))
    })
    s.range(7).select(
      concat(lit("d"), h, lit(".ex.test")).as("host"),
      concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
        concat_ws("", entries),
        lit("</urlset>\n")).as("sitemap_xml"))
  }

  /** The crawl link graph extracted from the archived pages THEMSELVES
    * (not synthesized arithmetic): anchor hrefs from every 200-status
    * body (`HtmlTextColumn.hrefs`, one codegen'd regexp pass),
    * canonicalized, then RESOLVED against the canonical-URL table of all
    * fetched pages — so aliases fold on BOTH ends and a link written
    * as `HTTPS://D1.EX.TEST:443/d/43#frag` lands on the same node as
    * `https://d1.ex.test/d/43`. Nodes are canonical path ids; edges
    * dedup after the fold. Scale shape: href extraction is map-side over
    * the archive scan; resolution is one shuffle join on the canonical
    * url (the discovered-URL table is corpus-sized — NOT broadcast);
    * dedup is one hash aggregate. Shared by `warc_links` (the oracled
    * edge table) and the frontier pipelines that rank over it.
    */
  private[queries] def warcLinkEdges(s: SparkSession, root: String, dir: String): DataFrame = {
    val parsed = graft.sources.Warc.httpParsed(
      graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
    // resolution table: every fetched page (404s included — a link to a
    // dead page is still a link) as canonical url -> node id
    val urls = parsed
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("dst_url"))
      .filter(col("dst_url").isNotNull).distinct()
      .withColumn("dst", pathIdNode(col("dst_url")))
    val links = parsed.filter(col("http_status") === 200)
      .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("src_url"),
        explode(graft.functions.HtmlTextColumn.hrefs(col("body"))).as("href"))
      .filter(col("src_url").isNotNull)
      // RFC 3986 resolution against the page's canonical url (absolute
      // hrefs pass through verbatim) — relative anchors, the dominant
      // form in real HTML, land on the same node as their absolute twins
      .select(pathIdNode(col("src_url")).as("src"),
        graft.functions.Url.canonicalizeUrl(
          graft.functions.Url.resolveUrl(col("src_url"), col("href")))
          .as("dst_url"))
      .filter(col("dst_url").isNotNull)
    links.join(urls, Seq("dst_url"))
      .select("src", "dst").distinct()
  }

  /** The streamed-ingest segment fixture shared by `warc_ingest_streamed`
    * and `warc_links_streamed`: 16 range-partitioned archive segments
    * (anchors planted, linkSpace = corpus) consumed as 4 micro-batches of
    * 4 files each, driving BOTH the curation claim log
    * ([[graft.streaming.WarcIngest]]) and the link-graph accumulation
    * ([[graft.streaming.LinkIngest]]) — one fixture build, the
    * `activityPath` no-drift pattern, plus a SECOND link index
    * (`links_compact`) fed the same batches and then COMPACTED — the
    * `warc_links_compacted` equivalence twin reads it while
    * `pipeline_crawl_refresh` keeps its time-travel history on the
    * uncompacted one. Kind "warcingestl2qr" (r15 bumps for the unquoted
    * and relative anchor classes): the
    * segment payloads now carry anchors and the fixture grew the
    * compacted index.
    */
  private[queries] def warcIngestPath(s: SparkSession, root: String, dir: String): String =
    fixturePathMemo.computeIfAbsent(("warcingestl2qr", root, dir, Tables.listingKey(s, dir)),
      _ => warcIngestPathUncached(s, root, dir))

  private[queries] def warcIngestPathUncached(s: SparkSession, root: String, dir: String): String = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    ensureIndex(s, root, ids, "warcingestl2qr", "built") { p =>
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$p/warc"), true) // crash debris
      graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/warc",
        nFiles = 16, rangePartition = true, linkSpace = ids.count())
      (0 until 4).foreach { b =>
        val files = (4 * b until 4 * b + 4)
          .map(f => f"part-$f%05d.warc.gz").mkString("{", ",", "}")
        val resp = graft.sources.Warc.httpParsed(graft.sources.Warc.responses(
          graft.sources.Warc.readRecords(s, s"$p/warc/$files")).toDF())
        graft.streaming.WarcIngest.processBatch(warcPagesFromParsed(resp),
          b.toLong, s"$p/log")
        graft.streaming.LinkIngest.processBatch(resp, b.toLong, s"$p/links")
        graft.streaming.LinkIngest.processBatch(resp, b.toLong, s"$p/links_compact")
      }
      graft.streaming.LinkIngest.compact(s, s"$p/links_compact")
      import s.implicits._
      Seq(4).toDF("n_batches").coalesce(1).write.mode("overwrite")
        .parquet(s"$p/built")
    }
  }

  /** As `WarcQueries.warcPages`, over an already-HTTP-parsed frame (shared
    * with the segment fixture, where the parse also feeds the link ingest).
    */
  private[queries] def warcPagesFromParsed(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("http_status") === 200)
      .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        graft.functions.HtmlTextColumn.htmlText(col("body")).as("text"))
      // an uncanonicalizable url (NULL) cannot claim a fetch slot — drop
      // it here so the dedup tiers never group the NULLs together
      .filter(col("url").isNotNull)
      .select(col("doc_id"), col("url"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
        md5(col("text")).as("text_md5"))

  /** The synthetic doc-space edge rule the `graph_*` operator oracles walk
    * (every non-d%5 doc links to `1 + d%3` arithmetic targets).
    */
  private[queries] val syntheticEdgesCte: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT d AS src, (d*13 + j*17 + 1) % (SELECT n_docs FROM nd) AS dst
      |  FROM ids, range(3) t(j) WHERE d % 5 <> 0 AND j <= d % 3),""".stripMargin

  /** The EXTRACTED link graph's replay (`warcLinkEdges`): the same
    * arithmetic targets as planted into the archived HTML by
    * `Warc.responseRecordString(linkSpace = n)`, in CANONICAL space —
    * 404 sources drop (no HTML body), both endpoints fold `d ≡ 2 (mod 3)`
    * onto `d-1`, and the fold dedups.
    */
  private[queries] val extractedEdgesCte: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS src,
      |    CASE WHEN dst0 % 3 = 2 THEN dst0 - 1 ELSE dst0 END AS dst
      |  FROM (SELECT d, (d*13 + j*17 + 1) % (SELECT n_docs FROM nd) AS dst0
      |        FROM ids CROSS JOIN range(3) t(j)
      |        WHERE d % 11 <> 0 AND d % 5 <> 0 AND j <= d % 3)),""".stripMargin

  /** The WITH-chain only (ids .. r10), reusable by composite oracles that
    * consume the converged rank vector (`pipeline_crawl_frontier`), over
    * either edge fixture.
    */
  private[queries] def pagerankChain(teleCte: String,
      edgesCte: String = syntheticEdgesCte): String = {
    def round(t: Int): String =
      s"""r$t AS MATERIALIZED (
         |  SELECT tl.node,
         |    (1 - 0.85) * tl.tele
         |    + 0.85 * (COALESCE(c.contrib, 0)
         |      + (SELECT COALESCE(sum(r.rank), 0) FROM r${t - 1} r
         |         LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL)
         |        * tl.tele) AS rank
         |  FROM tele tl LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / o.deg) AS contrib
         |    FROM r${t - 1} r JOIN outdeg o ON r.node = o.src
         |                     JOIN edges e ON e.src = r.node
         |    GROUP BY e.dst) c ON tl.node = c.node)""".stripMargin
    """WITH ids AS MATERIALIZED (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + edgesCte + "\n" +
    """nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |outdeg AS MATERIALIZED (
      |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
      |""".stripMargin +
      teleCte + ",\n" +
      "r0 AS MATERIALIZED (SELECT node, tele AS rank FROM tele),\n" +
      (1 to 10).map(round).mkString(",\n")
  }
}
