package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import QueryCommon._

/** WARC archives: reading, MIME gates, canonical and revisit dedup, links,
  * robots, sitemaps, main content and the WARC-to-text pipelines.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object WarcQueries {

  /** The SAME corpus as `QueryCommon.warcFixturePath` compressed as
    * `.warc.zst` (zstd whole-file members — Common Crawl's successor compression
    * for WARC-at-rest; the zstd-jni shipping with Spark decodes it).
    * Byte-identical records behind a different codec, so `warc_read_zstd`
    * shares `warc_read`'s oracle verbatim.
    */
  private def warcZstdFixturePath(s: SparkSession, root: String, dir: String): String =
    warcArchivePath(s, root, dir, "warczstdlqr", zstd = true)

  /** The MIME-class archive (`Warc.mimeResponseRecordString`): separate
    * fixture for the WET content-type gate.
    */
  private def warcMimeFixturePath(s: SparkSession, root: String, dir: String): String =
    warcArchivePath(s, root, dir, "warcmime",
      recordFor = d => graft.sources.Warc.mimeResponseRecordString(d))

  /** The LYING-HEADER archive (`Warc.sniffResponseRecordString`):
    * separate fixture for the magic-byte sniff tier, so the truthful
    * mime fixture's gate oracle stays untouched.
    */
  private def warcSniffFixturePath(s: SparkSession, root: String, dir: String): String =
    warcArchivePath(s, root, dir, "warcsniff",
      recordFor = d => graft.sources.Warc.sniffResponseRecordString(d))

  /** The rel=canonical archive (`Warc.canonicalResponseRecordString`):
    * separate fixture so the flat fixture's payload-level oracles stay
    * untouched.
    */
  private def warcCanonFixturePath(s: SparkSession, root: String, dir: String): String =
    warcArchivePath(s, root, dir, "warccanonh2",
      recordFor = d => graft.sources.Warc.canonicalResponseRecordString(d))

  /** The BLOCK-STRUCTURED archive (`Warc.bpResponseRecordString`): pages
    * wrapped in sitewide chrome for the main-content extraction query —
    * separate fixture so the flat fixture's 24 payload-level oracles stay
    * untouched. Kind "warcbphcenns": h = host-keyed footer token, c =
    * charset declaration classes, e = ENCODING classes (latin-1,
    * UTF-8-BOM, UTF-16LE bodies; decoy, late and conflicting metas).
    */
  private def warcBpFixturePath(s: SparkSession, root: String, dir: String): String =
    warcArchivePath(s, root, dir, "warcbphcenns",
      recordFor = d => graft.sources.Warc.bpResponseRecordString(d))

  /** The block-structured archive's scored block rows — one row per
    * `<p>`/`<div>` block of every 200-status page, with its text, token
    * counts, and the [[graft.functions.Boilerplate]] content verdict.
    * Shared by `warc_main_content` (the extraction table) and
    * `warc_main_dedup` (the chrome-vs-content dedup ledger).
    */
  private def bpScoredBlocks(s: SparkSession, root: String, dir: String): DataFrame =
    bpScoredBlocksFromParsed(graft.sources.Warc.httpParsed(
      graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, root, dir)}/files")).toDF()))

  /** As [[bpScoredBlocks]], over an already-HTTP-parsed frame — shared
    * with the streamed ingest, whose micro-batches arrive pre-parsed.
    * The body decodes through the DETECTED charset (BOM > header > meta
    * prelude > UTF-8 default), not a blind UTF-8 read — the fixture's
    * latin-1/UTF-16/BOM classes make every downstream main-content
    * oracle load-bearing on that decode (a UTF-8 read of the UTF-16
    * class yields NUL-riddled garbage no block regex would match).
    */
  private def bpScoredBlocksFromParsed(parsed: DataFrame): DataFrame = {
    val (cs, _) = graft.functions.Charset.detect(
      col("content_type"), col("body_bytes"))
    val pages = parsed
      .filter(col("http_status") === 200)
      .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
        graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
        graft.functions.Charset.decodeWith(col("body_bytes"), cs).as("body"))
    val bp = graft.functions.Boilerplate
    pages.select(col("doc_id"), col("url"),
        posexplode(bp.blocks(col("body"))).as(Seq("pos", "raw")))
      .select(col("doc_id"), col("url"), col("pos"),
        bp.blockText(col("raw")).as("text"),
        bp.tokenCount(bp.blockText(col("raw"))).as("n_toks"),
        bp.tokenCount(bp.linkText(col("raw"))).as("n_link_toks"))
      .withColumn("kept", bp.isContent(col("n_toks"), col("n_link_toks")))
  }

  /** Per-doc MAIN-content frame from scored block rows: the retained
    * token count and the retained text's digest, in the (n_tokens,
    * text_md5) slots [[graft.streaming.WarcIngest]]'s claim-log tiers
    * consume — so the streamed curation runs unchanged on
    * chrome-stripped text.
    */
  private def bpMainPages(scored: DataFrame): DataFrame =
    scored.groupBy("doc_id", "url")
      .agg(coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("n_tokens"),
        // NFC before hashing (Unicode TR15): the decomposed-accent class
        // must collide with visually-identical precomposed text in the
        // dedup tier — byte-keyed hashing without the fold silently
        // treats composition variants as distinct documents
        md5(graft.functions.NormalizeColumn.nfc(array_join(transform(
          array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
          b => b.getField("text")), "\n"))).as("text_md5"))

  /** The streamed MAIN-CONTENT curation fixture: 16 range-partitioned bp
    * segments consumed as 4 micro-batches of 4 files through
    * [[graft.streaming.WarcIngest.processBatch]] over the
    * chrome-stripped main frame ([[bpMainPages]]). Kind carries the bp
    * payload classes (h = host-keyed footer, c = charset declarations).
    */
  private def warcBpIngestPath(s: SparkSession, root: String, dir: String): String = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    ensureIndex(s, root, ids, "warcbpingesthcenns") { p =>
      graft.sources.Warc.synthesizeFiles(s, ids, "doc_id", s"$p/warc",
        nFiles = 16, rangePartition = true,
        recordFor = d => graft.sources.Warc.bpResponseRecordString(d))
      (0 until 4).foreach { b =>
        val files = (4 * b until 4 * b + 4)
          .map(f => f"part-$f%05d.warc.gz").mkString("{", ",", "}")
        val parsed = graft.sources.Warc.httpParsed(graft.sources.Warc.responses(
          graft.sources.Warc.readRecords(s, s"$p/warc/$files")).toDF())
        graft.streaming.WarcIngest.processBatch(
          bpMainPages(bpScoredBlocksFromParsed(parsed)), b.toLong, s"$p/log")
      }
    }
  }

  /** RECURSIVE sitemap discovery — the iterative fetch-parse loop a real
    * crawler runs over index-of-index nesting (seen in the wild for
    * >50k-URL sites), with the two guards that make it safe on hostile
    * input: a DEPTH BUDGET (the loop is driver-bounded, each level one
    * join + parse — crawl-cadence work, never data-scaled rounds) and a
    * CYCLE GUARD (a visited anti-join per level, so an index that lists
    * itself — or any loop through the nesting — terminates instead of
    * re-fetching forever). Locs split by suffix: `.xml` → re-fetch next
    * level, anything else → page seed. `fetched` models the fetch cache
    * (host, sm_url, xml); production swaps it for the HTTP leg.
    */
  private[graft] def sitemapWalk(fetched: DataFrame, roots: DataFrame,
      maxDepth: Int): DataFrame = {
    val isXml = (c: Column) => lower(c).endsWith(".xml")
    var visited = roots.select(col("host"), col("sm_url")).distinct()
      .localCheckpoint()
    var frontier = visited
    var seeds: DataFrame = null
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val locs = frontier.join(fetched, Seq("host", "sm_url"))
        .select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("xml"))).as("loc"))
      val pages = locs.filter(!isXml(col("loc")))
      seeds = if (seeds == null) pages else seeds.unionByName(pages)
      val next = locs.filter(isXml(col("loc")))
        .select(col("host"), col("loc").as("sm_url")).distinct()
        .join(visited, Seq("host", "sm_url"), "left_anti")
        .localCheckpoint() // truncate lineage per level; one action
      done = next.isEmpty
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next
      depth += 1
    }
    if (seeds == null) fetched.select(col("host"), lit("").as("loc")).limit(0)
    else seeds
  }

  /** The parsed-page digest shared by `pipeline_warc` and its streamed
    * twin: 200-status responses reduced to (doc_id, canonical url, token
    * count, text md5) — one archive pass, bytes never leave the map side.
    */
  private def warcPages(resp: DataFrame): DataFrame =
    warcPagesFromParsed(graft.sources.Warc.httpParsed(resp))

  /** One oracle for `warc_sitemap_urls`, `warc_sitemap_index`, AND
    * `warc_sitemap_walk`: every loc variant canonicalizes to the one
    * arithmetic form (the k%4==3 escaped-query class decodes `&amp;` and
    * surfaces WITH its query string), and both the two-level index walk
    * and the recursive cycle-guarded walk must land the identical seed
    * set — nesting ≡ flat (the equivalence-twin convention).
    */
  private val sitemapUrlsOracle: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |ks AS (SELECT h, k, CASE WHEN k < 40 THEN h + 7*k
      |              ELSE (SELECT n FROM nn) + h + 7*(k-40) END AS p
      |  FROM range(7) t(h), range(43) t2(k))
      |SELECT DISTINCT 'd' || h || '.ex.test' AS host,
      |  'https://d' || h || '.ex.test/d/' || p ||
      |    (CASE WHEN k % 4 = 3 AND k < 40 AND p % 5 = 0 AND p % 3 <> 2
      |          THEN '?a=1&b=2' ELSE '' END) AS url
      |FROM ks ORDER BY host, url""".stripMargin

  /** One oracle for `pipeline_warc` AND `warc_ingest_streamed`: replays
    * the four curation tiers from doc_id arithmetic (url slots claimed by
    * min doc_id BEFORE the quality gate, then the min-id text-md5
    * representative among the gated url survivors). Both queries hashing
    * green against the same literal is the batch ≡ streamed equivalence
    * proof.
    */
  private val warcPipelineOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |tx AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |  (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END) AS text
      | FROM ids),
      |canon AS (SELECT d, text,
      |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
      |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
      |  CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      | FROM tx),
      |url_kept AS (SELECT min(d) AS d FROM canon GROUP BY url),
      |gated AS (SELECT c.* FROM canon c JOIN url_kept k ON c.d = k.d WHERE c.n_tokens >= 3),
      |text_kept AS (SELECT min(d) AS d FROM gated GROUP BY md5(text))
      |SELECT g.d AS doc_id, g.url, g.n_tokens
      |FROM gated g JOIN text_kept t ON g.d = t.d ORDER BY doc_id""".stripMargin

  /** The planted-anchor run of a 200-status page (`Warc
    * .responseRecordString` linkSpace arm) — appended to the replayed
    * body in every PAYLOAD-level WARC oracle. Row scope must provide `d`
    * (doc id) and `n` (full corpus count — the linkSpace modulus).
    * Nested list_transforms bind the intermediate names a SQL lambda
    * can't (dst, then the canonical target path pt).
    */
  private val warcAnchorSql: String =
    """(CASE WHEN d % 5 <> 0 THEN array_to_string(list_transform(list_transform(list_transform(
      |    range(0, d % 3 + 1),
      |    j -> {'par': (d + j) % 2, 'unq': (d + j) % 6 = 4, 'r12': (d + j) % 12, 'dst0': (d*13 + j*17 + 1) % n}),
      |    x -> {'par': x.par, 'unq': x.unq,
      |          'rel': x.r12 % 6 = 2, 'r12': x.r12,
      |          'pt': CASE WHEN x.dst0 % 3 = 2 THEN x.dst0 - 1 ELSE x.dst0 END}),
      |    x -> (CASE WHEN x.unq THEN '<a href=' ELSE '<a href="' END) ||
      |      (CASE WHEN x.rel AND x.pt % 7 = (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7
      |        THEN (CASE WHEN x.r12 = 2 THEN '../d/' ELSE '/d/../d/' END) || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?a=1&b=2' ELSE '' END)
      |       WHEN x.par = 1
      |        THEN 'HTTPS://' || upper('d' || (x.pt % 7) || '.ex.test') || ':443/d/' || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?b=2&a=1' ELSE '' END) || '#frag'
      |        ELSE 'https://d' || (x.pt % 7) || '.ex.test/d/' || x.pt ||
      |          (CASE WHEN x.pt % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END) ||
      |      (CASE WHEN x.unq THEN ' ></a>' ELSE '"></a>' END)), '') ELSE '' END)""".stripMargin

  /** The flat-fixture PAYLOAD reconstruction WITH-chain (`ids` → `pay`
    * with full anchor runs) — shared by every oracle that needs the
    * exact response bytes: `warc_read` (lengths + md5s) and
    * `warc_truncated_export` (cap arithmetic). Mirrors
    * `Warc.responseRecordString` verbatim.
    */
  private lazy val warcPayloadCte: String =
    ("""WITH ids AS (SELECT doc_id AS d FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |b AS (SELECT d, d % 4 AS v, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
      |q AS (SELECT *, array_to_string(list_filter([
      |    CASE WHEN p % 5 = 0 THEN (CASE WHEN d % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END) ELSE '' END,
      |    CASE WHEN v = 1 THEN 'utm_source=news' ELSE '' END], x -> x <> ''), '&') AS qs FROM b),
      |u AS (SELECT d, v, p,
      |  (CASE WHEN v = 1 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      |  (CASE WHEN v = 1 THEN upper('d' || (p % 7) || '.ex.test') ELSE 'd' || (p % 7) || '.ex.test' END) ||
      |  (CASE WHEN v = 1 THEN ':443' ELSE '' END) || '/d/' || p ||
      |  (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) ||
      |  (CASE WHEN v = 2 THEN '#frag' ELSE '' END) AS uri FROM q),
      |pay AS (SELECT d, uri,
      |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
      |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
      |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
      |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
      |     || """.stripMargin + warcAnchorSql +
      " || '</body></html>' END) AS payload FROM u, nn)\n")

  /** Record-set replay over the reconstructed archive bytes — shared by
    * `warc_read` (gzip members) and `warc_read_zstd` (zstd members): the
    * codec changes, the parsed record set must not.
    */
  private lazy val warcReadOracle: String =
    (warcPayloadCte +
      """SELECT 'response' AS rec_type, d AS doc_id, uri,""" + """
        |  CAST(length(payload) AS BIGINT) AS content_length, md5(payload) AS payload_md5 FROM pay
        |UNION ALL
        |SELECT 'warcinfo', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |  CAST(length(wi) AS BIGINT), md5(wi)
        |FROM (SELECT 'software: graft-warc-synth' || chr(13) || chr(10) ||
        |             'format: WARC File Format 1.0' AS wi),
        |  -- one warcinfo per FILE, and a file exists only for residue
        |  -- classes with >= 1 doc (synthesizeFiles writes lazily)
        |  (SELECT DISTINCT doc_id % 16 FROM documents)
        |ORDER BY rec_type, doc_id""".stripMargin)

  /** Shared by `warc_links` and `warc_links_streamed` — the extracted
    * edge table's arithmetic ideal (also the frontier chains' edges CTE).
    */
  private lazy val warcLinksOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents),
      |nd AS (SELECT count(*) AS n_docs FROM ids),
      |""".stripMargin + extractedEdgesCte.stripSuffix(",") +
      "\nSELECT src, dst FROM edges ORDER BY src, dst"

  /** Main-content tier-chain replay — shared by `pipeline_warc_main`
    * (batch resolution) and `warc_main_streamed` (the id-ordered
    * claim-log accumulation), so one green row per variant proves the
    * greedy ≡ global equivalence on chrome-stripped text.
    */
  private lazy val warcMainPipelineOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
      |  d % 9 + 1 >= 3 AS keep_content,
      |  d % 4 = 1 AS has_related
      | FROM ids),
      |m AS (SELECT d,
      |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
      |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url,
      |  CAST((CASE WHEN keep_content THEN d % 9 + 1 ELSE 0 END)
      |     + (CASE WHEN has_related THEN 7 ELSE 0 END) AS BIGINT) AS main_tokens,
      |  -- NFC before the dedup fold, mirroring bpMainPages: the
      |  -- decomposed-accent class must collide with precomposed text
      |  nfc_normalize(coalesce(array_to_string(list_filter([
      |    CASE WHEN keep_content THEN words ELSE NULL END,
      |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
      |    x -> x IS NOT NULL), chr(10)), '')) AS main_t
      | FROM w),
      |url_kept AS (SELECT min(d) AS d FROM m GROUP BY url),
      |gated AS (SELECT m.* FROM m JOIN url_kept k ON m.d = k.d
      |          WHERE m.main_tokens >= 3),
      |text_kept AS (SELECT min(d) AS d FROM gated GROUP BY main_t)
      |SELECT g.d AS doc_id, g.url, g.main_tokens
      |FROM gated g JOIN text_kept t ON g.d = t.d ORDER BY doc_id""".stripMargin

  /** WET-stage text replay — shared by `warc_text` (extraction) and
    * `warc_wet_roundtrip` (extraction → conversion-record sink →
    * read-back), so one green row per variant proves the write half
    * recovers the extracted text byte-exactly.
    */
  private lazy val warcTextOracle: String =
    """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
      |tx AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
      |  array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
      |  (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END) AS text
      | FROM ids)
      |SELECT d AS doc_id, 'd' || (p % 7) || '.ex.test' AS host,
      |  CAST(length(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
      |  md5(text) AS text_md5
      |FROM tx ORDER BY doc_id""".stripMargin

  def specs(root: String): Seq[QuerySpec] = Seq(
    // --- WARC web-archive family (sources/Warc.scala) — the Common Crawl
    // ingestion shape. warcRecords synthesizes real gzipped WARC files
    // (every header/body byte arithmetic in doc_id, fixture cached under
    // ensureIndex) and reads them back via the Content-Length record walk;
    // the oracles re-derive the parse results from the same arithmetic
    // without ever seeing the files, so a green row proves the
    // write -> gzip -> read -> record/HTTP-parse round-trip byte-for-byte
    // (payload_md5). Bodies of d%7==0 docs embed a fake record header to
    // keep the parser honest (WarcSpec pins that a delimiter scan would
    // split there).
    QuerySpec("warc_read", (s, dir) => {
      warcRecords(s, root, dir).toDF()
        .select(col("warc_type").as("rec_type"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("rec_type", "doc_id")
    },
      // WARC: re-derive every record the synthesizer wrote (uri variants,
      // status line, HTML body incl. the planted fake-record literal, and
      // the per-file warcinfo records) purely from doc_id arithmetic —
      // md5(payload) pins the round-trip byte-for-byte. Mirrors
      // Warc.responseRecordString / warcinfoRecordString verbatim.
      warcReadOracle),

    // The SAME archive as `.warc.zst` (zstd whole-file members — the
    // Common Crawl successor codec; decoded by the zstd-jni that ships
    // with Spark, magic-sniffed beside gzip). SHARES warc_read's oracle
    // verbatim: the codec changes, the parsed records must not — green
    // = the write → zstd → read → record-walk loop is byte-exact. Like
    // gzip, plain zstd streams are non-splittable (the seekable-frame
    // extension exists but isn't needed at the ~1 GB production shard
    // size), so parallelism stays file-granular.
    QuerySpec("warc_read_zstd", (s, dir) => {
      graft.sources.Warc.readRecords(s, s"${warcZstdFixturePath(s, root, dir)}/files")
        .toDF()
        .select(col("warc_type").as("rec_type"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("rec_type", "doc_id")
    },
      // the SAME oracle: zstd-member archive must parse to the identical
      // record set (codec-equivalence twin)
      warcReadOracle),

    // WET CONTENT-TYPE gate: the step between the HTTP split and ANY
    // text extraction — normalize the Content-Type media type
    // (parameters stripped, lowercased) and extract only text/*
    // responses: HTML through html_text, text/plain raw, everything
    // else contributes ZERO tokens (PDF bytes through an HTML extractor
    // are garbage tokens that poison every downstream text statistic;
    // Common Crawl's WET layer gates exactly this way). Per doc: the
    // normalized mime, the gate verdict, and the gated token count.
    QuerySpec("warc_mime_gate", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcMimeFixturePath(s, root, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .withColumn("mime",
          lower(trim(substring_index(col("content_type"), ";", 1))))
        .withColumn("wet_eligible", col("mime").startsWith("text/"))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("mime"), col("wet_eligible"),
          when(!col("wet_eligible"), lit(0L))
            .when(col("mime") === "text/html",
              size(split(trim(graft.functions.HtmlTextColumn.htmlText(col("body"))),
                "\\s+")).cast("long"))
            .otherwise(size(split(trim(col("body")), "\\s+")).cast("long"))
            .as("n_tokens"))
        .orderBy("doc_id")
    },
      // MIME gate replay: class arithmetic — pdf ineligible at zero
      // tokens, text classes carry their word-run counts
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS mime,
        |  d % 6 <> 3 AS wet_eligible,
        |  CAST(CASE WHEN d % 6 = 3 THEN 0 ELSE d % 9 + 1 END AS BIGINT) AS n_tokens
        |FROM ids ORDER BY doc_id""".stripMargin),

    // MAGIC-BYTE MIME SNIFF vs the DECLARED header (functions/Mime,
    // simplified WHATWG sniffing table): route every payload by what
    // its leading bytes SAY IT IS, not what the server claimed. The
    // fixture plants both failure directions — PDF bytes declared
    // text/html (n_tokens_declared shows the garbage tokens a
    // declared-type route would have shipped; the sniffed route ships
    // 0) and real HTML behind application/octet-stream (declared route
    // drops it, sniffed route recovers the words). All codegen'd
    // prefix-compare Columns, map-side over the archive scan.
    QuerySpec("warc_mime_sniff", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcSniffFixturePath(s, root, dir)}/files")).toDF()
      val M = graft.functions.Mime
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .withColumn("declared", M.normalize(col("content_type")))
        .withColumn("sniffed", M.sniff(col("body_bytes"), col("body")))
      def tokensIf(mime: Column) =
        when(mime === "text/html",
          size(split(trim(graft.functions.HtmlTextColumn.htmlText(col("body"))),
            "\\s+")).cast("long"))
          .when(mime.startsWith("text/"),
            size(split(trim(col("body")), "\\s+")).cast("long"))
          .otherwise(lit(0L))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("declared"), col("sniffed"),
          (col("declared") =!= col("sniffed")).as("mislabeled"),
          tokensIf(col("sniffed")).as("n_tokens"),
          tokensIf(col("declared")).as("n_tokens_declared"))
        .orderBy("doc_id")
    },
      // Sniff replay: class arithmetic for both routes — the lying
      // text/html-PDF ships wc+2 garbage tokens on the declared route
      // ('%PDF-1.4' and 'endobj' plus the word run) and 0 on the sniffed
      // one; the octet-stream HTML recovers its words only when sniffed.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CAST(d % 9 + 1 AS BIGINT) AS wc FROM ids)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 6 = 1 THEN 'text/html'
        |       WHEN d % 6 = 2 THEN 'application/octet-stream'
        |       WHEN d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS declared,
        |  CASE WHEN d % 6 = 1 OR d % 6 = 3 THEN 'application/pdf'
        |       WHEN d % 6 = 5 THEN 'text/plain'
        |       ELSE 'text/html' END AS sniffed,
        |  d % 6 = 1 OR d % 6 = 2 AS mislabeled,
        |  CAST(CASE WHEN d % 6 = 1 OR d % 6 = 3 THEN 0 ELSE wc END AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN d % 6 = 1 THEN wc + 2
        |            WHEN d % 6 = 2 OR d % 6 = 3 THEN 0
        |            ELSE wc END AS BIGINT) AS n_tokens_declared
        |FROM c ORDER BY doc_id""".stripMargin),

    // DECLARED canonical extraction (RFC 6596, HtmlTextColumn
    // .canonicalHref): per 200 page, the author-asserted canonical URL
    // (canonicalized) or the page's own canonical URI when absent. The
    // fixture's decoy links (stylesheet/alternate), messy href forms,
    // and free rel/href attribute order are all load-bearing — and the
    // 404 class proves the status gate. Map-side regex over the archive
    // scan, no shuffle before the output sort.
    QuerySpec("warc_canonical", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, root, dir)}/files")).toDF()
      val decl = graft.functions.HtmlTextColumn.canonicalHref(col("body"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          coalesce(graft.functions.Url.canonicalizeUrl(decl),
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("canonical_url"),
          decl.isNotNull.as("declared"))
        .orderBy("doc_id")
    },
      // Declared-canonical replay: extraction + canonicalization stated as
      // the arithmetic ideal (variants point at the alias-folded family
      // head, heads fall back to their own canonical URI)
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CASE WHEN (d - d % 4) % 3 = 2 THEN d - d % 4 - 1 ELSE d - d % 4 END AS pt,
        |  d % 4 > 0 AS declared FROM ids)
        |SELECT d AS doc_id,
        |  CASE WHEN declared THEN 'https://d' || (pt % 7) || '.ex.test/d/' || pt
        |       ELSE 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |         (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END AS canonical_url,
        |  declared
        |FROM c ORDER BY doc_id""".stripMargin),

    // WHY the declared fold matters: family members live on DIFFERENT
    // hosts, so URL-string canonicalization sees one group per page
    // while the declared fold collapses each family onto its head — the
    // cross-host syndication dedup only the author's assertion exposes.
    // One ledger row: pages, URL-canonical groups, declared-fold groups.
    QuerySpec("warc_canonical_dedup", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, root, dir)}/files")).toDF()
      val decl = graft.functions.HtmlTextColumn.canonicalHref(col("body"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          graft.functions.Url.canonicalizeUrl(col("uri")).as("self_url"),
          coalesce(graft.functions.Url.canonicalizeUrl(decl),
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("resolved_url"))
        .transform(countDistincts(_, Nil, "n_pages",
          "self_url" -> "n_url_groups", "resolved_url" -> "n_canonical_groups"))
    },
      // the fold ledger: URL-canonical groups vs declared-fold groups,
      // counted over the same replayed strings
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CASE WHEN (d - d % 4) % 3 = 2 THEN d - d % 4 - 1 ELSE d - d % 4 END AS pt,
        |  d % 4 > 0 AS declared FROM ids),
        |r AS (SELECT
        |  'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |    (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS self_url,
        |  CASE WHEN declared THEN 'https://d' || (pt % 7) || '.ex.test/d/' || pt
        |       ELSE 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |         (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) END AS resolved_url
        | FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT self_url) AS BIGINT) AS n_url_groups,
        |  CAST(count(DISTINCT resolved_url) AS BIGINT) AS n_canonical_groups
        |FROM r""".stripMargin),

    // HREFLANG translation clusters (HtmlTextColumn.alternateLinkTags):
    // every 200 page's declared language alternates — per row the
    // sibling's language tag and its canonicalized target. The
    // no-hreflang feed alternate must drop (null-language filter), the
    // messy href forms must fold, and attribute order (hreflang before
    // or after rel/href) is free. The multilingual-curation signal: a
    // pipeline keeps one quality doc per translation cluster per
    // language instead of near-dup-ing translations apart. Tags explode
    // to rows FIRST, then codegen'd per-row regexes — never a
    // higher-order lambda over the tag array.
    QuerySpec("warc_hreflang", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, root, dir)}/files")).toDF()
      val tags = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          explode(graft.functions.HtmlTextColumn.alternateLinkTags(col("body")))
            .as("tag"))
      val lang = nullif(regexp_extract(col("tag"),
        "(?i)(?<=[\\s\"'])hreflang\\s*=\\s*[\"']?([A-Za-z][A-Za-z0-9-]*)", 1), lit(""))
      val href = coalesce(
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([\"'])((?:[^<>\"']|(?!\\1)[\"'])*?)\\1", 2),
          lit("")),
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([^\\s\"'<>]+)", 1), lit("")))
      tags.select(col("doc_id"), lang.as("hreflang"),
          graft.functions.Url.canonicalizeUrl(href).as("target_url"))
        .filter(col("hreflang").isNotNull)
        .orderBy("doc_id", "hreflang")
    },
      // hreflang replay: per 200 page, one row per family sibling with the
      // slot-keyed language and the alias-folded target (the feed
      // alternate never surfaces — it has no hreflang)
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |x AS (SELECT d, d - d % 4 AS base, CAST(d % 4 AS INT) AS slot FROM ids),
        |jj AS (SELECT x.d, t.j, x.base + t.j AS sib
        |       FROM x, range(4) t(j) WHERE t.j <> x.slot),
        |r AS (SELECT d,
        |  CASE j WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
        |         ELSE 'es' END AS hreflang,
        |  'https://d' || (sib % 7) || '.ex.test/d/' || sib AS target_url
        | FROM jj)
        |SELECT d AS doc_id, hreflang, target_url
        |FROM r ORDER BY doc_id, hreflang""".stripMargin),

    // Translation-cluster ASSEMBLY from extracted hreflang edges — the
    // consumer of warc_hreflang's rows: a cluster's identity is the
    // lexicographic MIN over its member and target URLs (every member
    // lists every sibling, so each member's candidate set spans the
    // whole family — no iterative closure needed for the bidirectional
    // hreflang topology; a one-sided graph would fall back to the CC
    // operator). Per cluster: member count, distinct member hosts
    // (cross-host families), distinct language labels. One extraction
    // pass, two hash aggregates.
    QuerySpec("warc_translation_clusters", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcCanonFixturePath(s, root, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          explode(graft.functions.HtmlTextColumn.alternateLinkTags(col("body")))
            .as("tag"))
        // the member's url in the family's own link space (the form its
        // siblings declare FOR it) — NOT the alias-folded crawl
        // canonical: the fold belongs to URL dedup, and mixing it in
        // here would leak boundary urls across families
        .withColumn("self_url",
          concat(lit("https://d"), pmod(col("doc_id"), lit(7)),
            lit(".ex.test/d/"), col("doc_id")))
      val lang = nullif(regexp_extract(col("tag"),
        "(?i)(?<=[\\s\"'])hreflang\\s*=\\s*[\"']?([A-Za-z][A-Za-z0-9-]*)", 1), lit(""))
      val href = coalesce(
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([\"'])((?:[^<>\"']|(?!\\1)[\"'])*?)\\1", 2),
          lit("")),
        nullif(regexp_extract(col("tag"),
          "(?i)(?<=[\\s\"'])href\\s*=\\s*([^\\s\"'<>]+)", 1), lit("")))
      val edges = pages
        .select(col("doc_id"), col("self_url"), col("host"),
          lang.as("hreflang"),
          graft.functions.Url.canonicalizeUrl(href).as("target_url"))
        .filter(col("hreflang").isNotNull)
      val perDoc = edges
        .groupBy("doc_id", "self_url", "host")
        .agg(min(col("target_url")).as("min_target"),
          collect_set(col("hreflang")).as("langs"))
        .select(col("doc_id"), col("host"),
          least(col("self_url"), col("min_target")).as("cluster_id"),
          col("langs"))
      perDoc.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          size(array_distinct(flatten(collect_list(col("langs")))))
            .cast("bigint").as("n_langs"))
        .orderBy("cluster_id")
    },
      // Cluster assembly replay: cluster id = string-min over the four
      // family slot urls (alias-folded), members = 200-status docs of the
      // base, langs = union of slots each member labels (3 for a
      // singleton member, 4 once two members cross-label)
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |m AS (SELECT d, d - d % 4 AS base, CAST(d % 4 AS INT) AS slot,
        |      CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |bases AS (SELECT DISTINCT base FROM m),
        |slots AS (SELECT b.base, t.j, b.base + t.j AS pj
        |  FROM bases b, range(4) t(j)),
        |cl AS (SELECT base,
        |    min('https://d' || (pj % 7) || '.ex.test/d/' || pj) AS cluster_id
        |  FROM slots GROUP BY base),
        |agg AS (SELECT base, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT p % 7) AS BIGINT) AS n_hosts
        |  FROM m GROUP BY base),
        |lagg AS (SELECT m.base, CAST(count(DISTINCT t.j) AS BIGINT) AS n_langs
        |  FROM m, range(4) t(j) WHERE t.j <> m.slot GROUP BY m.base)
        |SELECT cl.cluster_id, agg.n_docs, agg.n_hosts, lagg.n_langs
        |FROM agg JOIN cl USING (base) JOIN lagg USING (base)
        |ORDER BY cluster_id""".stripMargin),

    // Canonical-URL aliasing (functions/Url.canonicalizeUrl): the fixture
    // plants three alias classes (scheme/host case + :443 + utm_ tracking,
    // fragment + scrambled param order, and path collapse d≡2 mod 3 →
    // d-1); canonicalization must erase ALL of it to match the oracle's
    // arithmetic ideal — URL-level dedup before any page-byte hashing.
    QuerySpec("warc_urls", (s, dir) => {
      graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(graft.functions.Url.canonicalizeUrl(col("uri")).as("url"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_aliases"),
          min("doc_id").as("id_min"), max("doc_id").as("id_max"))
        .orderBy("url")
    },
      // Canonical-URL aliasing: the oracle states the arithmetic IDEAL
      // (lowercase https, no port/fragment/tracking, sorted params, path id
      // p) — Spark must erase every planted messiness class to match.
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |c AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |urls AS (SELECT d, 'https://d' || (p % 7) || '.ex.test/d/' || p ||
        |  (CASE WHEN p % 5 = 0 THEN '?a=1&b=2' ELSE '' END) AS url FROM c)
        |SELECT url, CAST(count(*) AS BIGINT) AS n_aliases,
        |  min(d) AS id_min, max(d) AS id_max
        |FROM urls GROUP BY url ORDER BY url""".stripMargin),

    // CDX-style CAPTURE INDEX (the Internet Archive / Common Crawl cdxj
    // convention): one row per response record keyed by the SURT of the
    // canonical URL — host labels reversed, so every page of a host (and
    // every host of a domain) sorts CONTIGUOUSLY and "everything under
    // this host" is a range scan over the index, never a suffix match or
    // an archive read — plus the fields a wayback/dedup consumer needs
    // without touching payloads: status, normalized mime, HTTP-body
    // digest (the WARC-Payload-Digest slot), record length. Map-only
    // over the record walk + the presentation sort; at scale the sink
    // range-partitions on surt_key so each output shard is a self-sorted
    // CDX segment (the warc_cdx analog of curation_zorder's file-stat
    // pruning: per-file surt min/max prune host-range queries).
    QuerySpec("warc_cdx", (s, dir) => {
      val resp = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
      val parsed = graft.sources.Warc.httpParsed(resp)
      parsed.select(
          graft.functions.Url.surt(
            graft.functions.Url.canonicalizeUrl(col("uri"))).as("surt_key"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("http_status").as("status"),
          lower(trim(substring_index(col("content_type"), ";", 1))).as("mime"),
          md5(col("body")).as("digest"),
          col("content_length").as("record_length"))
        .orderBy("surt_key", "doc_id")
    },
      // CDX replay: the SURT stated as the reversed-label ideal over the
      // canonical-url arithmetic (host d<p%7>.ex.test reverses to
      // test,ex,d<p%7>); digest over the reconstructed HTTP body (the
      // payload past its header block), record length over the full
      // payload — both from the shared byte-exact payload CTE.
      (warcPayloadCte +
      """SELECT
        |  'test,ex,d' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7) || ')/d/' ||
        |    (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) ||
        |    (CASE WHEN (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 5 = 0
        |          THEN '?a=1&b=2' ELSE '' END) AS surt_key,
        |  d AS doc_id,
        |  CAST(CASE WHEN d % 11 = 0 THEN 404 ELSE 200 END AS INT) AS status,
        |  'text/html' AS mime,
        |  md5(substr(payload,
        |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)) AS digest,
        |  CAST(length(payload) AS BIGINT) AS record_length
        |FROM pay ORDER BY surt_key, doc_id""".stripMargin)),

    // The PERSISTED, host-bucket-partitioned CDX index + a host LOOKUP
    // — the production shape of "give me every capture under these
    // hosts" (wayback resolution, per-host recrawl diffing): the index
    // is written ONCE hive-partitioned on pmod(xxhash64(host), 8) and
    // surt-sorted within partitions, and a lookup computes its hosts'
    // buckets (bounded by the query set — the queryTokenBuckets
    // pattern), reading ONLY those partition dirs. PartitionFilters on
    // the scan is pinned by PlanInvariantsSpec; at 100 TB this is the
    // difference between scanning the whole capture index and 2/8ths
    // of it, with per-file surt min/max pruning inside each bucket.
    QuerySpec("warc_cdx_pruned", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, root, docs, "cdxidx") { p =>
        val parsed = graft.sources.Warc.httpParsed(
          graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
        val canon = graft.functions.Url.canonicalizeUrl(col("uri"))
        parsed.select(
            graft.functions.Url.surt(canon).as("surt_key"),
            lower(try_parse_url(canon, lit("HOST"))).as("host"),
            regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long")
              .as("doc_id"),
            col("http_status").as("status"),
            md5(col("body")).as("digest"))
          .withColumn("host_bucket",
            pmod(xxhash64(col("host")), lit(8)).cast("int"))
          .repartition(col("host_bucket"))
          .sortWithinPartitions("surt_key", "doc_id")
          .write.mode("overwrite").partitionBy("host_bucket")
          .parquet(s"$p/cdx")
      }
      import s.implicits._
      val hosts = Seq("d1.ex.test", "d4.ex.test")
      // bucket literals from the 2-host query set — a bounded collect,
      // never corpus data
      val buckets = hosts.toDF("host")
        .select(pmod(xxhash64(col("host")), lit(8)).cast("int").as("b"))
        .distinct().as[Int].collect().toSeq
      s.read.parquet(s"$path/cdx")
        .filter(col("host_bucket").isin(buckets: _*) &&
          col("host").isin(hosts: _*))
        .select(col("host"), col("surt_key"), col("doc_id"), col("status"),
          col("digest"))
        .orderBy("surt_key", "doc_id")
    },
      // Pruned-lookup replay: the same CDX arithmetic restricted to the
      // two query hosts (p % 7 IN (1, 4)) — equal rows prove the
      // partitioned layout serves exactly the flat index's answer.
      (warcPayloadCte +
      """SELECT
        |  'd' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7)
        |    || '.ex.test' AS host,
        |  'test,ex,d' || ((CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7) || ')/d/' ||
        |    (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) ||
        |    (CASE WHEN (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 5 = 0
        |          THEN '?a=1&b=2' ELSE '' END) AS surt_key,
        |  d AS doc_id,
        |  CAST(CASE WHEN d % 11 = 0 THEN 404 ELSE 200 END AS INT) AS status,
        |  md5(substr(payload,
        |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)) AS digest
        |FROM pay
        |WHERE (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7 IN (1, 4)
        |ORDER BY surt_key, doc_id""".stripMargin)),

    // Payload-level STORAGE dedup — the WARC revisit-record model
    // (ISO 28500 §6.7.2: an unchanged re-fetch is written as a `revisit`
    // record carrying `WARC-Payload-Digest` + `WARC-Refers-To` instead
    // of the bytes; Common Crawl dedups its snapshots exactly this way).
    // Group responses by payload digest: the first record (min doc id)
    // stays the stored response, every later identical fetch would be a
    // revisit pointer, saving (n-1) × payload bytes. The fixture's
    // biggest group is the 404 class (every `not found` body is
    // byte-identical — error pages ARE the canonical revisit win in real
    // archives). Scale shape: one map-side md5 over the record walk,
    // one hash aggregate on the 128-bit digest with map-side partials —
    // no shuffle of payload bytes, only digests + counters move.
    QuerySpec("warc_revisit_dedup", (s, dir) => {
      graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(md5(col("payload")).as("payload_md5"),
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("content_length"))
        .groupBy("payload_md5")
        .agg(count(lit(1)).as("n_copies"),
          min("doc_id").as("stored_doc"),
          max("content_length").as("bytes_each"),
          ((count(lit(1)) - 1) * max("content_length")).as("bytes_saved"))
        .filter(col("n_copies") >= 2)
        .orderBy("payload_md5")
    },
      // Revisit-record storage dedup: the oracle rebuilds every response
      // PAYLOAD (warc_read's reconstruction, minus the uri it doesn't
      // contain) and groups by it — digest grouping in Spark must land the
      // identical partition of the archive.
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pay AS (SELECT d,
        |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' END) AS payload FROM ids, nn)\n" +
      """SELECT md5(payload) AS payload_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |  min(d) AS stored_doc, CAST(max(length(payload)) AS BIGINT) AS bytes_each,
        |  CAST((count(*) - 1) * max(length(payload)) AS BIGINT) AS bytes_saved
        |FROM pay GROUP BY md5(payload) HAVING count(*) >= 2
        |ORDER BY payload_md5""".stripMargin)),

    // The revisit model's SINK half round-tripped: re-export the archive
    // through Warc.writeRecordsDeduped (one stored response per distinct
    // payload, a pointer-only `revisit` record for every later identical
    // fetch), read it back through the standard record walk, and report
    // the storage ledger per record type. The oracle restates the ledger
    // from the duplicate-group arithmetic — stored rows = distinct
    // payloads (with their bytes), revisit rows = the rest (zero bytes) —
    // so a green row proves the dedup election, both serialization
    // shapes, and the re-read agree end-to-end. WarcSpec pins the
    // pointer fields (WARC-Refers-To / WARC-Payload-Digest) byte-level.
    QuerySpec("warc_rewrite_dedup", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, root, ids, "warcdd") { p =>
        graft.sources.Warc.writeRecordsDeduped(
          graft.sources.Warc.responses(warcRecords(s, root, dir)), s"$p/files", nFiles = 8)
      }
      graft.sources.Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type").isin("response", "revisit"))
        .groupBy(col("warc_type").as("rec_type"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("bytes_stored"))
        .orderBy("rec_type")
    },
      // Deduped-sink ledger: stored rows = one per distinct payload (their
      // summed bytes), revisit rows = every further copy at zero bytes —
      // the same payload reconstruction, grouped.
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nn AS (SELECT count(*) AS n FROM documents),
        |pay AS (SELECT d,
        |  (CASE WHEN d % 11 = 0 THEN 'HTTP/1.1 404 Not Found' ELSE 'HTTP/1.1 200 OK' END)
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  (CASE WHEN d % 11 = 0 THEN 'not found' ELSE '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' END) AS payload FROM ids, nn)\n" +
      """, g AS (SELECT count(*) AS c, CAST(length(payload) AS BIGINT) AS len
        |        FROM pay GROUP BY payload)
        |SELECT * FROM (
        |  SELECT 'response' AS rec_type, CAST(count(*) AS BIGINT) AS n_records,
        |    CAST(sum(len) AS BIGINT) AS bytes_stored FROM g
        |  UNION ALL
        |  SELECT 'revisit', CAST(coalesce(sum(c - 1), 0) AS BIGINT), CAST(0 AS BIGINT) FROM g)
        |WHERE n_records > 0
        |ORDER BY rec_type""".stripMargin)),

    // MAIN-CONTENT extraction (functions/Boilerplate) over the block-
    // structured archive: segment each 200 page into blocks, classify by
    // token link-density + minimum length, and reassemble the retained
    // text in document order. The fixture plants one block per verdict
    // class (all-anchor nav, plain content of varying length, a
    // link-BEARING related strip that must survive, an anchor-heavy
    // footer); the oracle replays each block's verdict and the retained
    // text's md5. Scale shape: blocks EXPLODE to rows (a real page is
    // 10²–10³ blocks), per-block scoring is codegen'd map-side work, and
    // the per-doc reassembly is one hash aggregate.
    QuerySpec("warc_main_content", (s, dir) =>
      bpScoredBlocks(s, root, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("kept").cast("long")).as("n_kept"),
          coalesce(sum(when(col("kept"), col("n_toks"))), lit(0L)).as("main_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
            b => b.getField("text")), "\n")).as("main_md5"))
        .orderBy("doc_id"),
      // Main-content replay: per 200 page, each block's verdict and the
      // retained text are closed-form in d (nav/footer always drop,
      // content keeps iff its run is >= 3 tokens, the related strip always
      // keeps on its d%4==1 class).
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids)
        |SELECT d AS doc_id,
        |  -- d%13==5: the nested nav segments as TWO blocks (inner nav +
        |  -- breadcrumb), both all-anchor and dropped
        |  CAST(3 + (CASE WHEN d % 13 = 5 THEN 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
        |  CAST((CASE WHEN keep_content THEN 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST((CASE WHEN keep_content THEN d % 9 + 1 ELSE 0 END)
        |     + (CASE WHEN has_related THEN 7 ELSE 0 END) AS BIGINT) AS main_tokens,
        |  -- array_to_string of an EMPTY list is NULL in DuckDB; the
        |  -- zero-kept page's retained text is the empty string
        |  md5(coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '')) AS main_md5
        |FROM w ORDER BY doc_id""".stripMargin),

    // The crawl-curation pipeline on MAIN content — pipeline_warc's
    // tiers (status gate → canonical-URL dedup → quality gate → exact
    // dedup) with the text tier running on chrome-STRIPPED text: quality
    // judges the content tokens a page actually contributes, and the
    // exact-dedup tier collapses cross-host syndication the raw-text
    // form can never see (host-keyed chrome makes raw texts unique).
    // Same 100 TB shape as pipeline_warc: every tier is
    // groupBy(min(doc_id)) + long-key join-back, the per-doc main frame
    // materializes once.
    QuerySpec("pipeline_warc_main", (s, dir) => {
      val main = bpMainPages(bpScoredBlocks(s, root, dir))
        .localCheckpoint() // parse + segment + score once; tiers reuse
      val urlKept = main.groupBy("url").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val gated = main.join(urlKept, "doc_id")
        .filter(col("n_tokens") >= 3)
      val textKept = gated.groupBy("text_md5").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      gated.join(textKept, "doc_id")
        .select(col("doc_id"), col("url"), col("n_tokens").as("main_tokens"))
        .orderBy("doc_id")
    },
      // Main-content pipeline replay: the pipeline_warc tier chain with
      // the text tier on the reconstructed MAIN text (nav/footer chrome
      // stripped, so the host-keyed footer never blocks the dedup fold).
      warcMainPipelineOracle),

    // HOST-LEVEL QUALITY GATE — the cheapest lever a 100 TB curation
    // pipeline has: per-page quality is noisy, but HOST-level rates
    // (thin-content fraction here; spam/dup/boilerplate rates in
    // production) are stable, and one rollup row gates every page the
    // host ever contributes (RefinedWeb/FineWeb-class corpora apply
    // exactly this domain-prior tier before any per-document model).
    // Per host over the main-content frame: page count, thin pages
    // (< 3 retained tokens), retained-token mass, keep verdict (thin
    // fraction ≤ 1/6 — integer-exact, no FP in the compare). Scale
    // shape: ONE hash aggregate keyed on host; the verdict table is
    // host-cardinality (tiny) and broadcast-joins back onto the corpus
    // in consumers.
    QuerySpec("pipeline_host_gate", (s, dir) => {
      bpMainPages(bpScoredBlocks(s, root, dir))
        .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
          col("n_tokens"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          sum(when(col("n_tokens") < 3, 1L).otherwise(0L)).as("n_thin"),
          sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("host_kept", col("n_thin") * 6 <= col("n_pages"))
        .orderBy("host")
    },
      // Host-gate replay: main-token arithmetic per page grouped on the
      // host key, thin threshold restated as the same integer compare.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |m AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  CAST((CASE WHEN d % 9 + 1 >= 3 THEN d % 9 + 1 ELSE 0 END)
        |     + (CASE WHEN d % 4 = 1 THEN 7 ELSE 0 END) AS BIGINT) AS mt
        | FROM ids),
        |g AS (SELECT 'd' || (p % 7) || '.ex.test' AS host,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(sum(CASE WHEN mt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_thin,
        |  CAST(sum(mt) AS BIGINT) AS sum_tokens
        | FROM m GROUP BY 1)
        |SELECT host, n_pages, n_thin, sum_tokens,
        |  n_thin * 6 <= n_pages AS host_kept
        |FROM g ORDER BY host""".stripMargin),

    // STREAMED accumulation of the same curation — bp crawl segments
    // (range-partitioned: file order follows id order) consumed 4
    // files/micro-batch through WarcIngest's claim-log protocol, with
    // the per-batch pages frame being the chrome-stripped MAIN frame.
    // SHARES pipeline_warc_main's oracle: green = greedy first-claim
    // over id-ordered arrival ≡ global min-doc_id resolution, on main
    // content (the warc_ingest_streamed equivalence, one extraction tier
    // deeper).
    QuerySpec("warc_main_streamed", (s, dir) => {
      val path = warcBpIngestPath(s, root, dir)
      graft.streaming.WarcIngest.kept(s, s"$path/log")
        .select(col("doc_id"), col("url"), col("n_tokens").as("main_tokens"))
        .orderBy("doc_id")
    },
      // the SAME oracle: id-ordered streamed first-claim over the main
      // frame must equal the batch resolution (equivalence proof)
      warcMainPipelineOracle),

    // CHARSET detection + DECODE (functions/Charset) — the WET step
    // between the HTTP split and text extraction, WHATWG precedence:
    // BOM wins (even over a lying header), then the header `charset`
    // parameter, then the FIRST meta declaration within the 1024-byte
    // prescan prelude (either form, document order — a late declaration
    // past the bound is ignored), then the UTF-8 default. `body_md5`
    // hashes the body DECODED through the detected name (BOM stripped):
    // the latin-1/UTF-16 classes' digests only match the oracle's
    // reconstructed char string if detection fed decode correctly — the
    // tier is load-bearing, not annotative. All codegen'd regexp/string
    // Columns, map-side over the archive scan.
    QuerySpec("warc_charset", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, root, dir)}/files")).toDF()
      val pages = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
      val (cs, src) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      pages.select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          cs.as("charset"), src.as("charset_source"),
          md5(graft.functions.Charset.decodeWith(col("body_bytes"), cs))
            .as("body_md5"))
        .orderBy("doc_id")
    },
      // Charset replay: class arithmetic for the (charset, source) pair —
      // BOM > header > meta-in-prelude > default, earlier-of-forms on
      // conflicting metas, the decoy and the late declaration resolving
      // AWAY from their planted names — plus the DECODED body's md5: the
      // oracle reconstructs the page's char string (what a correct decode
      // yields), so the latin-1/UTF-16/BOM classes only hash-match if
      // detection actually fed decode. DuckDB md5 hashes the UTF-8 bytes
      // of the reconstructed string, same as Spark's md5-of-string.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words
        | FROM ids),
        |pg AS (SELECT d, '<html>' ||
        |  (CASE WHEN d % 5 = 1 THEN '<head><meta name="description" content="all about charset=EBCDIC pages"><meta charset="UTF-8"></head>'
        |        WHEN d % 5 = 2 THEN '<head><meta http-equiv="Content-Type" content="text/html; charset=Windows-1252"></head>'
        |        WHEN d % 15 = 13 THEN '<head><!-- ' || repeat('x', 1100) || ' --><meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1"></head>'
        |        WHEN d % 15 = 4 THEN '<head><meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-5"><meta charset="KOI8-R"></head>'
        |        WHEN d % 15 = 14 THEN '<head><script>var nav = "<div>decoy</div>";</script></head>'
        |        ELSE '' END) ||
        |  (CASE WHEN d % 13 = 5
        |        THEN '<body><div><div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div> <a href="/crumb">crumb</a></div>'
        |        ELSE '<body><div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div>' END) ||
        |  '<p>' || words || '</p>' ||
        |  (CASE WHEN d % 4 = 1 THEN '<div><a href="/r">more</a> w1 w2 w3 w4 w5 w6</div>' ELSE '' END) ||
        |  '<div><a href="/about">about</a> <a href="/contact">contact</a> c' || (p % 7) ||
        |  '</div></body></html>' AS body
        | FROM w)
        |SELECT d AS doc_id,
        |  CASE WHEN d % 15 = 3 THEN 'utf-8'
        |       WHEN d % 15 = 8 THEN 'utf-16le'
        |       WHEN d % 5 = 0 THEN 'iso-8859-1'
        |       WHEN d % 5 = 2 THEN 'windows-1252'
        |       WHEN d % 15 = 4 THEN 'iso-8859-5'
        |       ELSE 'utf-8' END AS charset,
        |  CASE WHEN d % 15 = 3 OR d % 15 = 8 THEN 'bom'
        |       WHEN d % 5 = 0 THEN 'header'
        |       WHEN d % 5 = 1 OR d % 5 = 2 OR d % 15 = 4 THEN 'meta'
        |       ELSE 'default' END AS charset_source,
        |  md5(body) AS body_md5
        |FROM pg ORDER BY doc_id""".stripMargin),

    // NFC NORMALIZATION (functions/Normalize, Unicode TR15) made
    // visible per doc: the raw main text's md5 beside the NFC'd md5 and
    // a changed flag — TRUE exactly where the decoded text carries a
    // decomposed code-point sequence (the d%15==9 planted class, e +
    // U+0301, undeclared UTF-8) with kept content. Byte-keyed dedup,
    // shingles and term hashing all silently split such documents from
    // their precomposed twins unless this fold runs first; the pipeline
    // dedup tier hashes NFC'd text (bpMainPages), and this row is the
    // direct proof of what the fold changes. Native codegen'd
    // expression with an ASCII fast path — no allocation on the
    // overwhelming ASCII majority.
    QuerySpec("warc_text_nfc", (s, dir) => {
      val raw = bpScoredBlocks(s, root, dir).groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(when(col("kept"), struct(col("pos"), col("text"))))),
          b => b.getField("text")), "\n").as("main_text"))
      raw.select(col("doc_id"),
          md5(col("main_text")).as("text_md5"),
          md5(graft.functions.NormalizeColumn.nfc(col("main_text")))
            .as("text_md5_nfc"))
        .withColumn("nfc_changed", col("text_md5") =!= col("text_md5_nfc"))
        .orderBy("doc_id")
    },
      // NFC replay: the reconstructed main text's md5 raw and through
      // DuckDB's own nfc_normalize — the changed flag goes TRUE exactly
      // where the planted decomposed sequence survives into kept content
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids),
        |m AS (SELECT d,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '') AS t
        | FROM w)
        |SELECT d AS doc_id, md5(t) AS text_md5,
        |  md5(nfc_normalize(t)) AS text_md5_nfc,
        |  md5(t) <> md5(nfc_normalize(t)) AS nfc_changed
        |FROM m ORDER BY doc_id""".stripMargin),

    // WHY boilerplate removal precedes dedup: sitewide chrome varies by
    // SITE, not by page (the fixture's footer is host-keyed), so the
    // same article syndicated across hosts is unique in raw extracted
    // text but collapses after main-content extraction. One ledger row:
    // page count, distinct raw texts, distinct main texts — the gap is
    // the duplicate mass only chrome-stripping exposes. Scale shape:
    // per-doc md5s from one block-row aggregate, then a count-distinct
    // over 16-byte digests.
    QuerySpec("warc_main_dedup", (s, dir) => {
      def joined(c: Column) = md5(array_join(transform(
        array_sort(collect_list(c)), b => b.getField("text")), "\n"))
      bpScoredBlocks(s, root, dir).groupBy("doc_id")
        .agg(joined(struct(col("pos"), col("text"))).as("raw_md5"),
          joined(when(col("kept"), struct(col("pos"), col("text")))).as("main_md5"))
        .transform(countDistincts(_, Nil, "n_pages",
          "raw_md5" -> "n_raw_distinct", "main_md5" -> "n_main_distinct"))
    },
      // Chrome-vs-content dedup ledger: distinctness over md5 equals
      // distinctness over the texts themselves, so the oracle counts
      // distinct reconstructed texts directly — raw carries the host-keyed
      // footer, main doesn't.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words,
        |  d % 9 + 1 >= 3 AS keep_content,
        |  d % 4 = 1 AS has_related
        | FROM ids),
        |texts AS (SELECT
        |  'nav0 nav1 nav2' ||
        |    (CASE WHEN d % 13 = 5 THEN chr(10) || 'crumb' ELSE '' END) ||
        |    chr(10) || words ||
        |    (CASE WHEN has_related THEN chr(10) || 'more w1 w2 w3 w4 w5 w6' ELSE '' END) ||
        |    chr(10) || 'about contact c' || (p % 7) AS raw_t,
        |  coalesce(array_to_string(list_filter([
        |    CASE WHEN keep_content THEN words ELSE NULL END,
        |    CASE WHEN has_related THEN 'more w1 w2 w3 w4 w5 w6' ELSE NULL END],
        |    x -> x IS NOT NULL), chr(10)), '') AS main_t
        | FROM w)
        |SELECT CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(count(DISTINCT raw_t) AS BIGINT) AS n_raw_distinct,
        |  CAST(count(DISTINCT main_t) AS BIGINT) AS n_main_distinct
        |FROM texts""".stripMargin),

    // CCNET-STYLE PARAGRAPH DEDUP (Wenzek et al. 2020 §4.1: hash every
    // paragraph, keep only the corpus-wide FIRST occurrence) — the
    // OTHER boilerplate strategy, and CCNet's actual first stage over
    // each Common Crawl snapshot: sitewide chrome repeats VERBATIM
    // across pages, so corpus-wide paragraph dedup strips it with no
    // link-density model at all (the nav/footer blocks here survive on
    // exactly one page each; unique content paragraphs all survive).
    // Blocks are the paragraphs; first occurrence = global (doc_id,
    // pos) order. Scale shape: ONE shuffle keyed on the paragraph
    // digest (the window partitions by md5, so duplicate texts co-
    // locate without comparing strings), per-group sort bounded by the
    // duplicate population — CCNet shards this same hash space across
    // workers.
    QuerySpec("warc_ccnet_paradedup", (s, dir) => {
      val w = Window.partitionBy(col("para_md5")).orderBy(col("doc_id"), col("pos"))
      bpScoredBlocks(s, root, dir)
        .select(col("doc_id"), col("pos"), col("text"),
          md5(col("text")).as("para_md5"))
        .withColumn("first_seen", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("first_seen"), 1L).otherwise(0L)).as("n_paras_kept"),
          md5(array_join(transform(
            array_sort(collect_list(
              when(col("first_seen"), struct(col("pos"), col("text"))))),
            b => b.getField("text")), "\n")).as("kept_md5"))
        .orderBy("doc_id")
    },
      // CCNet paragraph-dedup replay: the per-page DECODED block list
      // (nav / crumb / words / related / footer, same classes as the
      // charset oracle) unnested with positions, first occurrence by the
      // identical (doc, pos) window, reassembly in block order.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |w AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p,
        |  array_to_string(list_transform(range(0, d % 9 + 1), i -> (CASE WHEN d % 5 = 0 OR d % 5 = 2 OR d % 15 = 3 OR d % 15 = 8 THEN 'wé' WHEN d % 15 = 9 THEN 'we' || chr(769) ELSE 'w' END) || ((d * 7 + i) % 13)), ' ') AS words
        | FROM ids),
        |bdoc AS (SELECT d, list_filter([
        |    'nav0 nav1 nav2',
        |    CASE WHEN d % 13 = 5 THEN 'crumb' END,
        |    words,
        |    CASE WHEN d % 4 = 1 THEN 'more w1 w2 w3 w4 w5 w6' END,
        |    'about contact c' || (p % 7)], x -> x IS NOT NULL) AS bl
        | FROM w),
        |ex AS (SELECT d, unnest(list_transform(range(1, len(bl) + 1),
        |    i -> {pos: i, text: bl[i]})) AS u FROM bdoc),
        |ex2 AS (SELECT d, u.pos AS pos, u.text AS text FROM ex),
        |fr AS (SELECT d, pos, text,
        |  row_number() OVER (PARTITION BY text ORDER BY d, pos) = 1 AS first_seen
        | FROM ex2)
        |SELECT d AS doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_kept,
        |  md5(coalesce(string_agg(CASE WHEN first_seen THEN text END,
        |    chr(10) ORDER BY pos), '')) AS kept_md5
        |FROM fr GROUP BY d ORDER BY doc_id""".stripMargin),

    // Link-graph EXTRACTION from the archived pages themselves
    // (warcLinkEdges): anchor hrefs out of the HTML bodies, planted with
    // the same URL-messiness classes as the page URIs — the oracle's
    // arithmetic ideal only matches if extraction canonicalizes and
    // alias-folds BOTH endpoints and resolves targets through the
    // discovered-URL table. This edge table is what the frontier
    // pipelines rank over (shared CTE in their oracles).
    QuerySpec("warc_links", (s, dir) => warcLinkEdges(s, root, dir).orderBy("src", "dst"),
      // The extracted edge table IS the frontier oracles' edges CTE —
      // one definition, consumed by warc_links directly and by the
      // rank chains of pipeline_crawl_frontier / pipeline_crawl_polite.
      warcLinksOracle),

    // In-link counts off the extracted graph — the cheap quality prior
    // crawl schedulers use before any rank converges: per page, distinct
    // referring pages (edges are deduped pairs) and distinct referring
    // HOSTS (cross-host endorsement weighs more than intra-site nav).
    // One hash aggregate over the edge table.
    QuerySpec("warc_inlinks", (s, dir) =>
      warcLinkEdges(s, root, dir)
        .groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_degree"),
          countDistinct(pmod(col("src"), lit(7))).as("n_src_hosts"))
        .orderBy("node"),
      // in-degree + distinct referring hosts over the same edges CTE
      ("""WITH ids AS (SELECT doc_id AS d FROM documents),
        |nd AS (SELECT count(*) AS n_docs FROM ids),
        |""".stripMargin + extractedEdgesCte.stripSuffix(",") + """
        |SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_degree,
        |  CAST(count(DISTINCT src % 7) AS BIGINT) AS n_src_hosts
        |FROM edges GROUP BY dst ORDER BY node""".stripMargin)),

    // ANCHOR-TEXT AGGREGATION per link target — the classic web-search
    // relevance signal (how OTHER pages describe a page; anchor text
    // carried early search ranking before content analysis did) and a
    // crawl-frontier topical prior. From the block fixture's DECODED
    // bodies: every <a href>text</a> pair, href resolved RFC 3986-style
    // against the page's canonical URL, grouped by target — reference
    // count plus the sorted distinct anchor vocabulary. Scale shape:
    // map-side extraction (two codegen'd regexp_extract_all passes
    // zipped, no explode until the pairs exist), then TWO hash
    // aggregations on the same key: first (target, text) — distinct
    // anchors with their counts, map-side combinable so duplicate
    // anchors collapse before the exchange — then target, where
    // smallest_k (bounded k-heap UDAF, functions/TopK) caps the
    // vocabulary at 64: a hub page (home pages, wiki mains) with
    // millions of in-links can never blow an aggregation buffer —
    // each partial carries ≤ k anchors. Output scalarized
    // (array_join) — the registry's no-top-level-array contract
    // (pinned by PlanInvariantsSpec), and what the
    // oracle compare can sort.
    QuerySpec("warc_anchor_text", (s, dir) => {
      val resp = graft.sources.Warc.responses(graft.sources.Warc.readRecords(
        s, s"${warcBpFixturePath(s, root, dir)}/files")).toDF()
      val parsed = graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
      val (cs, _) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      val pages = parsed.select(
        graft.functions.Url.canonicalizeUrl(col("uri")).as("page_url"),
        graft.functions.Charset.decodeWith(col("body_bytes"), cs).as("body"))
      val pat = "<a href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
      pages.select(col("page_url"),
          explode(arrays_zip(
            regexp_extract_all(col("body"), lit(pat), lit(1)).as("h"),
            regexp_extract_all(col("body"), lit(pat), lit(2)).as("t"))).as("a"))
        .select(
          graft.functions.Url.canonicalizeUrl(graft.functions.Url.resolveUrl(
            col("page_url"), col("a.h"))).as("target_url"),
          col("a.t").as("text"))
        .groupBy("target_url", "text")
        .agg(count(lit(1)).as("n"))
        .groupBy("target_url")
        .agg(sum(col("n")).as("n_refs"),
          array_join(graft.functions.TopK.smallestK(col("text"), 64), "|")
            .as("anchor_texts"))
        .orderBy("target_url")
    },
      // Anchor-text replay: the block fixture's per-page anchor (path,
      // text) pairs stated arithmetically, targets resolved onto the
      // page's host, vocabulary as a sorted-distinct capped (64)
      // '|'-joined scalar — arrays never surface at top level.
      """WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |h AS (SELECT d, (CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END) % 7 AS hn FROM ids),
        |pr AS (SELECT hn, unnest(list_filter([
        |    {p: '/', t: 'nav0'}, {p: '/about', t: 'nav1'}, {p: '/news', t: 'nav2'},
        |    CASE WHEN d % 13 = 5 THEN {p: '/crumb', t: 'crumb'} END,
        |    CASE WHEN d % 4 = 1 THEN {p: '/r', t: 'more'} END,
        |    {p: '/about', t: 'about'}, {p: '/contact', t: 'contact'}],
        |  x -> x IS NOT NULL)) AS a FROM h),
        |tg AS (SELECT 'https://d' || hn || '.ex.test' || a.p AS target_url,
        |  a.t AS text FROM pr)
        |SELECT target_url, CAST(count(*) AS BIGINT) AS n_refs,
        |  array_to_string(list_sort(list_distinct(list(text)))[1:64], '|') AS anchor_texts
        |FROM tg GROUP BY target_url ORDER BY target_url""".stripMargin),

    // STREAMED accumulation of the same edge table (streaming/LinkIngest):
    // per-segment map-side appends of canonical (src_url, dst_url) pairs
    // and discovered URLs, resolution deferred to read time — a link
    // captured before its target is discovered resolves when a later
    // segment lands it. SHARES warc_links' oracle verbatim: the
    // accumulated end state must equal batch extraction over the whole
    // archive (equivalence twin).
    QuerySpec("warc_links_streamed", (s, dir) =>
      graft.streaming.LinkIngest.edges(s, s"${warcIngestPath(s, root, dir)}/links",
          nodeOf = pathIdNode)
        .orderBy("src", "dst"),
      // the SAME oracle: streamed accumulation + deferred resolution must
      // equal batch extraction (equivalence proof)
      warcLinksOracle),

    // The COMPACTED index under the SAME oracle: collapsing each table's
    // batch dirs to one distinct-rows dir (LinkIngest.compact — the
    // read-amplification bound at crawl cadence) must leave the resolved
    // edge table bit-identical. Third member of the warc_links
    // equivalence family.
    QuerySpec("warc_links_compacted", (s, dir) =>
      graft.streaming.LinkIngest.edges(s,
          s"${warcIngestPath(s, root, dir)}/links_compact", nodeOf = pathIdNode)
        .orderBy("src", "dst"),
      // and again: the compacted index must resolve identically
      warcLinksOracle),

    // WARC SINK round-trip (Warc.writeRecords — the source's symmetric
    // half): read the archives, keep the 200-status pages, RE-EXPORT
    // them as standard WARC files, read those back through the same
    // parser, and hash every record byte-exactly against the arithmetic
    // oracle. A framing error anywhere in the writer (lengths, header
    // serialization, gzip) breaks the re-parse and the row goes red.
    QuerySpec("warc_rewrite", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      // "warclqrrw" (re-export twin of warclqr): embeds the source
      // fixture's payload bytes incl. the unquoted + relative anchors
      val path = ensureIndex(s, root, ids, "warclqrrw") { p =>
        import s.implicits._
        val pages = graft.sources.Warc.httpParsed(
            graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
          .filter(col("http_status") === 200)
          // `truncated` must ride along since WarcRecord grew the field
          // (r16 WARC-Truncated round-trip): the encoder has no defaults,
          // and dropping it fails ANALYSIS — but only when the memoized
          // fixture needs rebuilding, which is exactly how it slipped
          // past a close whose index cache was warm
          .select("path", "warc_type", "record_id", "uri", "content_length",
            "payload", "truncated")
          .as[graft.sources.WarcRecord]
        graft.sources.Warc.writeRecords(pages, s"$p/files", nFiles = 8)
      }
      graft.sources.Warc.responses(graft.sources.Warc.readRecords(s, s"$path/files")).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    },
      // Sink round-trip: exactly warc_read's response reconstruction,
      // restricted to the 200-status pages the rewrite kept — the re-read
      // of the RE-EXPORTED archive must still hash byte-exactly.
      ("""WITH ids AS (SELECT doc_id AS d FROM documents WHERE doc_id % 11 <> 0),
        |nn AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT d, d % 4 AS v, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |q AS (SELECT *, array_to_string(list_filter([
        |    CASE WHEN p % 5 = 0 THEN (CASE WHEN d % 2 = 0 THEN 'a=1&b=2' ELSE 'b=2&a=1' END) ELSE '' END,
        |    CASE WHEN v = 1 THEN 'utm_source=news' ELSE '' END], x -> x <> ''), '&') AS qs FROM b),
        |u AS (SELECT d, v, p,
        |  (CASE WHEN v = 1 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |  (CASE WHEN v = 1 THEN upper('d' || (p % 7) || '.ex.test') ELSE 'd' || (p % 7) || '.ex.test' END) ||
        |  (CASE WHEN v = 1 THEN ':443' ELSE '' END) || '/d/' || p ||
        |  (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) ||
        |  (CASE WHEN v = 2 THEN '#frag' ELSE '' END) AS uri FROM q),
        |pay AS (SELECT d, uri,
        |  'HTTP/1.1 200 OK'
        |  || chr(13) || chr(10) || 'Content-Type: text/html' || chr(13) || chr(10) || chr(13) || chr(10) ||
        |  '<html><body>' ||
        |     array_to_string(list_transform(range(0, d % 9 + 1), i -> 'w' || ((d * 7 + i) % 13)), ' ') ||
        |     (CASE WHEN d % 7 = 0 THEN E'\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!' ELSE '' END)
        |     || """.stripMargin + warcAnchorSql +
        " || '</body></html>' AS payload FROM u, nn)\n" +
        """SELECT d AS doc_id, uri,
        |  CAST(length(payload) AS BIGINT) AS content_length, md5(payload) AS payload_md5
        |FROM pay ORDER BY doc_id""".stripMargin)),

    // The crawl-curation pipeline END-TO-END in production order:
    // fetch-status gate -> canonical-URL dedup (one fetch per url — the
    // slot is consumed even when the survivor then fails quality) ->
    // quality gate (min tokens) -> exact-text dedup -> kept docs.
    // Each dedup tier is groupBy(key).agg(min(doc_id)) + join-back on the
    // unique doc_id (hash aggregates with map-side partials + long-key
    // joins — no string-valued agg buffers, so no SortAggregate; the
    // 100 TB shape). 454 pages -> 110 kept at sf0.01.
    QuerySpec("pipeline_warc", (s, dir) => {
      // one archive pass: parse + extract, then checkpoint the 4-column
      // digest frame (bytes never cross a shuffle) — the two dedup tiers
      // each reference it twice, so without this the gzip decode + HTML
      // walk would run 4x
      val pages = warcPages(graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF())
        .localCheckpoint()
      val urlKept = pages.groupBy("url").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val gated = pages.join(urlKept, "doc_id").filter(col("n_tokens") >= 3)
      val textKept = gated.groupBy("text_md5").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      gated.join(textKept, "doc_id")
        .select("doc_id", "url", "n_tokens")
        .orderBy("doc_id")
    },
      // Replays the four pipeline tiers over the reconstructed pages: url
      // slots claimed by min doc_id BEFORE the quality gate, then the
      // min-id text-md5 representative among the gated url survivors.
      // SHARED with warc_ingest_streamed (equivalence proof).
      warcPipelineOracle),

    // The STREAMED twin (streaming/WarcIngest.scala): the same archives
    // re-laid as crawl segments (rangePartition — file order follows id
    // order, each "crawl" carries new ids), consumed 4 files per
    // micro-batch; every tier runs incrementally against the accumulated
    // claim log (url first-claim, quality gate, text-md5 first-claim)
    // under BatchMarker exactly-once. SHARES pipeline_warc's oracle —
    // a green row proves greedy first-claim over id-ordered arrival
    // equals the batch pipeline's global min-doc_id resolution.
    QuerySpec("warc_ingest_streamed", (s, dir) => {
      val path = warcIngestPath(s, root, dir)
      graft.streaming.WarcIngest.kept(s, s"$path/log").orderBy("doc_id")
    }, warcPipelineOracle),

    // robots.txt policy gating (functions/Robots) — the pre-fetch stage:
    // per-host policies parse map-side to `*`-group RULE arrays
    // (Disallow + Allow with `*`/`$` patterns), broadcast, and gate every
    // page URL under RFC 9309 longest-match precedence. The fixture
    // plants one adversarial case per parser obligation: a decoy
    // bot-specific `Disallow: /` group AND a `User-agent: *bot` group
    // (agent token must match `*` exactly), an empty-Disallow host (5),
    // a two-prefix host (6) with an Allow carve-out that must WIN by
    // length, a per-host `Allow: /d/h5` carve-out, and host 4's
    // wildcard-anchored `Disallow: /d/*7$` plus a decoy `Allow: /d/`
    // that must LOSE by length. The oracle states the arithmetic ideal —
    // every planted case has to come through the evaluator to match.
    QuerySpec("warc_robots_gate", (s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val rules = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"))
      pages.join(broadcast(rules), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          graft.functions.Robots.isBlockedByRules(col("path"), col("rules")).as("blocked"))
        .orderBy("doc_id")
    },
      // PageRank: the 10 rounds replay as a generated chain of MATERIALIZED
      // CTEs — each round references its predecessor twice (transpose +
      // dangling sum), so materialization is what keeps the replay linear
      // instead of 2^10 scans.
      // The gate's arithmetic ideal under longest-match precedence:
      // host h blocks prefix '/d/h' EXCEPT the longer 'Allow: /d/h5'
      // carve-out; host 5 blocks nothing (empty Disallow); host 6 also
      // blocks '/d/16' (its '65' carve-out wins by length over '/d/6');
      // host 4 additionally blocks any path matching '/d/*7$' — the len-7
      // wildcard rule outranks both Allows, while its decoy 'Allow: /d/'
      // must lose every contest; the fetchbot and '*bot' decoy groups must
      // never leak (either would block everything).
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h = 5 THEN FALSE
        |       WHEN h = 4 THEN s LIKE '%7'
        |            OR (starts_with(s, '4') AND NOT starts_with(s, '45'))
        |       WHEN h = 6 THEN (starts_with(s, '6') AND NOT starts_with(s, '65'))
        |            OR starts_with(s, '16')
        |       ELSE starts_with(s, CAST(h AS VARCHAR))
        |            AND NOT starts_with(s, CAST(h AS VARCHAR) || '5')
        |  END AS blocked
        |FROM m ORDER BY doc_id""".stripMargin),

    // The PER-BOT gate (Robots.rulesFor/crawlDelaySecondsFor): a crawler
    // evaluating its OWN product token picks the groups that name it —
    // here via the STACKED `User-agent: graftbot` line, which is
    // directive-less and must inherit the shared rule block (RFC 9309
    // §2.1 group merging) — and falls back to `*` only on host 3, which
    // declares no graftbot group. The named rules invert the bulk
    // verdicts (Disallow /d/ + a host-digit Allow carve-out), so a leak
    // in either direction flips rows.
    QuerySpec("warc_robots_gate_bot", (s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val bot = lit("graftbot")
      val pol = robotsPolicies(s).select(col("host"),
        graft.functions.Robots.rulesFor(col("robots_txt"), bot).as("rules"),
        graft.functions.Robots.crawlDelaySecondsFor(col("robots_txt"), bot)
          .as("crawl_delay"))
      pages.join(broadcast(pol), Seq("host"), "left")
        .select(col("doc_id"), col("host"),
          graft.functions.Robots.isBlockedByRules(col("path"), col("rules"))
            .as("blocked"),
          col("crawl_delay"))
        .orderBy("doc_id")
    },
      // graftbot's groups invert the bulk arithmetic: Disallow /d/ blocks
      // everything except the longer host-digit Allow carve-out (h||'5'),
      // delay 7 from the named group — host 3 alone falls back to the `*`
      // tier's verdicts and its 2.0 delay
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h = 3 THEN starts_with(s, '3') AND NOT starts_with(s, '35')
        |       ELSE NOT starts_with(s, CAST(h AS VARCHAR) || '5') END AS blocked,
        |  CASE WHEN h = 3 THEN 2.0 ELSE 7.0 END AS crawl_delay
        |FROM m ORDER BY doc_id""".stripMargin),

    // The robots-FETCH-STATUS gate (RFC 9309 §2.3.1) — what a crawler
    // does when the policy fetch itself fails: per host, the robots.txt
    // fetch status is h%4-classed (0 → 200 parse-and-evaluate, 1 → 404
    // unavailable ⇒ MAY access everything, 2 → 503 unreachable ⇒ MUST
    // assume complete disallow, 3 → null/timeout ⇒ same). Only the 200
    // class consults the rule arithmetic; a gate that parsed a 503
    // host's stale text (or treated 404 as block-all) flips whole hosts.
    QuerySpec("warc_robots_gate_status", (s, dir) => {
      val pages = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          try_parse_url(col("uri"), lit("PATH")).as("path"))
      val st = pmod(regexp_extract(col("host"), "d(\\d+)", 1).cast("long"), lit(4))
      val pol = robotsPolicies(s).select(col("host"),
        when(st === 0, lit(200)).when(st === 1, lit(404))
          .when(st === 2, lit(503)).otherwise(lit(null).cast("int"))
          .as("fetch_status"),
        graft.functions.Robots.rules(col("robots_txt")).as("rules"))
      pages.join(broadcast(pol), Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("fetch_status"),
          graft.functions.Robots.isBlockedWithFetchStatus(
            col("fetch_status"), col("path"), col("rules")).as("blocked"))
        .orderBy("doc_id")
    },
      // the status tier replays by host class: h%4==0 hosts evaluate the
      // rule CASE (same arithmetic as warc_robots_gate), h%4==1 hosts are
      // 404-unavailable (nothing blocked), h%4∈{2,3} are 503/timeout
      // (everything blocked)
      """WITH ids AS (SELECT doc_id AS d FROM documents),
        |pg AS (SELECT d, CASE WHEN d % 3 = 2 THEN d - 1 ELSE d END AS p FROM ids),
        |m AS (SELECT d, p, p % 7 AS h, CAST(p AS VARCHAR) AS s FROM pg)
        |SELECT d AS doc_id, 'd' || h || '.ex.test' AS host,
        |  CASE WHEN h % 4 = 0 THEN 200 WHEN h % 4 = 1 THEN 404
        |       WHEN h % 4 = 2 THEN 503 END AS fetch_status,
        |  CASE WHEN h % 4 = 1 THEN FALSE
        |       WHEN h % 4 >= 2 THEN TRUE
        |       WHEN h = 4 THEN s LIKE '%7'
        |            OR (starts_with(s, '4') AND NOT starts_with(s, '45'))
        |       ELSE starts_with(s, CAST(h AS VARCHAR))
        |            AND NOT starts_with(s, CAST(h AS VARCHAR) || '5')
        |  END AS blocked
        |FROM m ORDER BY doc_id""".stripMargin),

    // Sitemap discovery (Robots.sitemaps) — the crawl's seed-URL source:
    // sitemap lines are GROUP-INDEPENDENT per RFC 9309 §2.3, and the
    // fixture plants each host's line INSIDE the fetchbot decoy group to
    // prove it — the URL must surface while the group's Disallow: /
    // keeps not leaking into the gate.
    QuerySpec("warc_sitemaps", (s, dir) =>
      robotsPolicies(s).select(col("host"),
          explode(graft.functions.Robots.sitemaps(col("robots_txt")))
            .as("sitemap"))
        .orderBy("host"),
      // the parse is the load-bearing half: the URL comes out of the DECOY
      // group (group-independence) while that group's rules never leak
      """SELECT 'd' || i || '.ex.test' AS host,
        |  'https://d' || i || '.ex.test/sitemap-' || i || '.xml' AS sitemap
        |FROM range(7) t(i) ORDER BY host""".stripMargin),

    // Sitemap CONSUMPTION (Robots.sitemapLocs) — the leg after discovery:
    // the per-host sitemap XML parses to <loc> seed URLs, canonicalized
    // (the shouting-caps-with-port and whitespace-padded classes must
    // fold onto the plain form; lastmod/priority decoys must not
    // surface). One map-side regexp pass per document.
    QuerySpec("warc_sitemap_urls", (s, dir) => {
      val n = t(s, dir, "documents").count()
      sitemapDocs(s, n).select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    },
      // every variant (plain, shouting-caps-with-port, whitespace-padded)
      // canonicalizes to the one arithmetic form; decoy siblings never
      // surface — the replay states the ideal directly
      sitemapUrlsOracle),

    // TWO-LEVEL sitemap discovery under the SAME oracle: a per-host
    // <sitemapindex> (whitespace-padded <loc>, lastmod decoy) parses to
    // the sitemap URL the robots fixture declares, joins to that fetched
    // document, and the second-level parse must land the identical seed
    // set — nesting ≡ flat, the equivalence-twin convention applied to
    // sitemapLocs' sitemapindex claim.
    QuerySpec("warc_sitemap_index", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val hid = col("id")
      val index = s.range(7).select(
        concat(lit("d"), hid, lit(".ex.test")).as("host"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap><loc>\n    "),
          lit("https://d"), hid, lit(".ex.test/sitemap-"), hid, lit(".xml  \n  "),
          lit("</loc><lastmod>2026-02-02</lastmod></sitemap>\n</sitemapindex>\n"))
          .as("xml"))
      val level1 = index.select(col("host"),
        explode(graft.functions.Robots.sitemapLocs(col("xml"))).as("sm_url"))
      val fetched = sitemapDocs(s, n).withColumn("sm_url",
        concat(lit("https://"), col("host"), lit("/sitemap-"),
          regexp_extract(col("host"), "d(\\d+)", 1), lit(".xml")))
      level1.join(fetched, Seq("host", "sm_url"))
        .select(col("host"),
          explode(graft.functions.Robots.sitemapLocs(col("sitemap_xml"))).as("loc"))
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    },
      // nesting ≡ flat: the two-level index walk must land the identical
      // seed set — shares warc_sitemap_urls' oracle verbatim
      sitemapUrlsOracle),

    // RECURSIVE sitemap discovery (sitemapWalk): a 3-level fixture —
    // robots-declared root <sitemapindex> → sub-index → the flat urlset —
    // with TWO planted cycles (the root lists itself; the sub-index lists
    // the root back) that the visited anti-join must terminate, under a
    // depth budget of 5. The walked seed set must equal the flat parse's
    // EXACTLY: it shares sitemapUrlsOracle VERBATIM with
    // warc_sitemap_urls and warc_sitemap_index — the third member of the
    // nesting ≡ flat equivalence family.
    QuerySpec("warc_sitemap_walk", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val hid = col("id")
      def smUrl(suffix: String) = concat(lit("https://d"), hid,
        lit(".ex.test/sitemap-"), hid, lit(suffix))
      val hosts = s.range(7).select(
        concat(lit("d"), hid, lit(".ex.test")).as("host"),
        smUrl(".xml").as("root"), smUrl("-sub.xml").as("sub"),
        smUrl("-leaf.xml").as("leaf"))
      val rootDocs = hosts.select(col("host"), col("root").as("sm_url"),
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap><loc>"),
          col("sub"),
          lit("</loc><lastmod>2026-03-01</lastmod></sitemap>\n  <sitemap><loc>  "),
          col("root"), lit("\n  </loc></sitemap>\n</sitemapindex>\n")).as("xml"))
      val subDocs = hosts.select(col("host"), col("sub").as("sm_url"),
        concat(lit("<sitemapindex><sitemap><loc>"), col("leaf"),
          lit("</loc></sitemap><sitemap><loc>"), col("root"),
          lit("</loc></sitemap></sitemapindex>")).as("xml"))
      val leafDocs = sitemapDocs(s, n).join(hosts, "host")
        .select(col("host"), col("leaf").as("sm_url"),
          col("sitemap_xml").as("xml"))
      val fetched = rootDocs.unionByName(subDocs).unionByName(leafDocs)
      val roots = robotsPolicies(s).select(col("host"),
        explode(graft.functions.Robots.sitemaps(col("robots_txt"))).as("sm_url"))
      sitemapWalk(fetched, roots, maxDepth = 5)
        .select(col("host"),
          graft.functions.Url.canonicalizeUrl(col("loc")).as("url"))
        .distinct()
        .orderBy("host", "url")
    },
      // recursion ≡ flat: the cycle-guarded depth-budgeted walk over the
      // 3-level fixture must land the identical seed set — the same oracle
      // VERBATIM is the termination-and-completeness proof (a cycle that
      // re-fetched would not change the set, but a walk that died early or
      // followed the planted loops forever would never produce it)
      sitemapUrlsOracle),

    // The whole policy digest a scheduler keeps per host: rule count
    // (both tiers' input), the `*` group's crawl delay (the fetchbot
    // decoy's `Crawl-delay: 99` must NOT leak — delays are group-scoped,
    // unlike sitemaps), and the sitemap count. One map-side parse.
    QuerySpec("warc_policy_summary", (s, dir) =>
      robotsPolicies(s).select(col("host"),
          size(graft.functions.Robots.rules(col("robots_txt")))
            .cast("bigint").as("n_rules"),
          graft.functions.Robots.crawlDelaySeconds(col("robots_txt"))
            .as("crawl_delay"),
          size(graft.functions.Robots.sitemaps(col("robots_txt")))
            .cast("bigint").as("n_sitemaps"))
        .orderBy("host"),
      // rule counts replay the fixture arithmetic (h5's empty Disallow
      // contributes nothing; h4 adds the wildcard + decoy-Allow pair; h6
      // the /d/16 extra); delay is the *-group's 2.0, never the decoy's 99
      """SELECT 'd' || i || '.ex.test' AS host,
        |  CAST(CASE WHEN i = 4 THEN 4 WHEN i = 5 THEN 0
        |            WHEN i = 6 THEN 3 ELSE 2 END AS BIGINT) AS n_rules,
        |  2.0 AS crawl_delay,
        |  CAST(1 AS BIGINT) AS n_sitemaps
        |FROM range(7) t(i) ORDER BY host""".stripMargin),

    // The WET stage end-to-end: HTTP split (Warc.httpParsed) -> 200s only
    // -> real html_text extraction -> whitespace token count + text md5.
    // The embedded fake-record literal rides through as plain text (no
    // markup), so the oracle's reconstruction covers it too.
    QuerySpec("warc_text", (s, dir) => {
      val resp = graft.sources.Warc.responses(warcRecords(s, root, dir)).toDF()
      // body decodes through the DETECTED charset (identity on this
      // all-ASCII undeclared fixture — the default UTF-8 arm — but the
      // pipeline posture matches the bp family's charset-aware chain)
      val (cs, _) = graft.functions.Charset.detect(
        col("content_type"), col("body_bytes"))
      graft.sources.Warc.httpParsed(resp)
        .filter(col("http_status") === 200)
        .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          graft.functions.HtmlTextColumn.htmlText(
            graft.functions.Charset.decodeWith(col("body_bytes"), cs)).as("text"))
        .select(col("doc_id"), col("host"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // WET extraction: 200-status pages only; text = the body's word run
      // (+ the fake-record literal, which is tagless and rides through
      // html_text as data); token count replays the same whitespace split.
      warcTextOracle),

    // TRUNCATED capture round-trip (ISO 28500 §5.13) — the crawler's
    // response-size cap as a storage feature: payloads over 64 bytes
    // export as their prefix with a `WARC-Truncated: length` header,
    // and the read-back surfaces the marker plus the STORED length —
    // what a downstream consumer needs to know a document is a
    // deliberate prefix, not a corrupt capture (the quarantine path)
    // nor a complete one. The flat fixture splits cleanly: every 200
    // page exceeds the cap (status line + headers + html alone pass
    // it), every 404 fits under it. Same file-granular sink/scan shape
    // as every WARC leg.
    QuerySpec("warc_truncated_export", (s, dir) => {
      import graft.sources.Warc
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, root, docs, "warctrunca") { p =>
        Warc.writeRecords(
          Warc.capPayloads(Warc.responses(warcRecords(s, root, dir)), maxBytes = 64),
          s"$p/files", nFiles = 8)
      }
      Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("doc_id"),
          col("content_length").as("stored_len"),
          col("truncated"))
        .orderBy("doc_id")
    },
      // cap arithmetic over the reconstructed payload bytes: stored
      // length = min(len, 64), truncated = len > 64 — what the capped
      // export's read-back must report per record
      (warcPayloadCte +
      """SELECT d AS doc_id,
        |  CAST(least(length(payload), 64) AS BIGINT) AS stored_len,
        |  length(payload) > 64 AS truncated
        |FROM pay ORDER BY doc_id""".stripMargin)),

    // The WET PRODUCTION shape (ISO 28500 §6.8 / Common Crawl's WET
    // layer): extracted text written back as `conversion` records —
    // one per source page, id re-keyed wet-<d>, payload = the UTF-8
    // text — through the standard WARC sink, then read back by the same
    // Content-Length walk and re-scored. SHARES warc_text's oracle: a
    // green row proves extract → WET write → archive read recovers the
    // text byte-exactly, including the planted fake-record literal now
    // riding INSIDE a conversion payload (a delimiter-scanning reader
    // would split the WET file there too). Sink kind is versioned
    // ("wetsinka") because the cached dir derives from EXTRACTION
    // semantics, not just the corpus — a text-pipeline change must bump
    // it. Scale shape: same file-granular parallel write/read as every
    // WARC sink; nothing driver-side but the bounded written-count sum.
    QuerySpec("warc_wet_roundtrip", (s, dir) => {
      import graft.sources.{Warc, WarcRecord}
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val path = ensureIndex(s, root, docs, "wetsinka") { p =>
        val resp = Warc.responses(warcRecords(s, root, dir)).toDF()
        val (cs, _) = graft.functions.Charset.detect(
          col("content_type"), col("body_bytes"))
        implicit val enc = org.apache.spark.sql.Encoders.product[WarcRecord]
        val conv = Warc.httpParsed(resp)
          .filter(col("http_status") === 200)
          .select(
            lit("").as("path"),
            lit("conversion").as("warc_type"),
            regexp_replace(col("record_id"), "doc-", "wet-").as("record_id"),
            col("uri"),
            lit(null).cast("long").as("content_length"),
            graft.functions.HtmlTextColumn.htmlText(
              graft.functions.Charset.decodeWith(col("body_bytes"), cs))
              .cast("binary").as("payload"),
            lit(false).as("truncated"))
          .as[WarcRecord]
        Warc.writeRecords(conv, s"$p/files", nFiles = 8)
      }
      Warc.readRecords(s, s"$path/files").toDF()
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), "wet-(\\d+)", 1).cast("long").as("doc_id"),
          lower(try_parse_url(col("uri"), lit("HOST"))).as("host"),
          col("payload").cast("string").as("text"))
        .select(col("doc_id"), col("host"),
          size(split(trim(col("text")), "\\s+")).cast("bigint").as("n_tokens"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // the SAME oracle: extraction -> WET conversion-record sink ->
      // archive read-back must recover the extracted text byte-exactly
      // (equivalence proof for the WET write half, including the planted
      // fake-record literal riding INSIDE a conversion payload — the
      // Content-Length walk must read through it on the WET file too)
      warcTextOracle)
  )
}
