package graft.sources

import java.io.OutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One parsed WARC record. `content_length` is the value the parser read
  * from the record's own `Content-Length` header (None only on quarantine
  * rows), `payload` the exactly-that-many bytes that followed it.
  */
case class WarcRecord(
    path: String,
    warc_type: String,
    record_id: String,
    uri: String,
    content_length: Option[Long],
    payload: Array[Byte],
    // ISO 28500 §5.13: the record carried a `WARC-Truncated` header — its
    // payload is a deliberate prefix of the original capture (crawlers
    // cap response sizes). Travels through [[Warc.writeRecords]] so a
    // re-export preserves the marker.
    truncated: Boolean = false)

/** Web-archive (WARC 1.0) ingestion — the Common Crawl shape (builder
  * brief: sources a large-scale training-data pipeline needs; the
  * reference has no web-archive source, its ingestion is DB/XLSX/CSV —
  * `/root/reference/synth/transform.py` — so this family is
  * beyond-reference by design).
  *
  * A WARC file is a concatenation of records, each
  * `WARC/1.0\r\n<headers>\r\n\r\n<Content-Length bytes>\r\n\r\n`, usually
  * gzip-compressed. Two properties drive the design:
  *
  *  - '''Parsing must be Content-Length-driven, never delimiter-driven''':
  *    response payloads are arbitrary bytes and routinely CONTAIN
  *    `WARC/1.0`-shaped text (archived pages about WARC, nested archives).
  *    [[parseAll]] walks records by declared length; the synthetic fixture
  *    plants records whose bodies embed a fake record header to keep that
  *    honest (a delimiter-scanning parser splits mid-record there).
  *  - '''gzip makes files non-splittable''', so parallelism is
  *    file-granular: one task per file, which matches the production
  *    layout (a Common Crawl snapshot is ~64k files of ~1 GB — far more
  *    files than executor slots, so file-granular is fully parallel at
  *    100 TB). Records stream out of a single pass; nothing is held
  *    beyond one record.
  *
  * Failure posture: a malformed file yields the records parsed up to the
  * corruption plus ONE `warc_type = "ingest_error"` quarantine row, and
  * never fails the job — at crawl scale some truncated/corrupt members are
  * a certainty.
  *
  * The synthesis half ([[synthesizeFiles]]) is fixture machinery for the
  * oracle loop, same posture as `Multimodal.synthesizeWavs`: every header
  * and body byte is arithmetic in `doc_id`, so DuckDB replays the parse
  * results without ever seeing the files — a green row proves the
  * write → gzip → read → record-walk → header/HTTP parse round-trip.
  */
object Warc {

  private val Crlf = "\r\n"

  /** The planted body decoy: looks exactly like a record boundary +
    * header block. Content-Length-driven parsing reads straight through
    * it; anything scanning for `WARC/1.0` derails.
    */
  private[graft] val FakeRecordLiteral: String =
    "\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\nContent-Length: 7\r\n\r\ngotcha!"

  /** The synthetic response record for one doc id — messy-URL variants,
    * HTTP status, and an HTML-ish body, all arithmetic in `d` (mirrored
    * verbatim by the `warc_read` / `warc_text` / `warc_urls` oracles in
    * [[graft.queries.WarcQueries]]):
    *
    *  - `v = d % 4` picks URL messiness: v=1 uppercases scheme+host and
    *    adds `:443` + `utm_source=news`, v=2 appends `#frag` and scrambles
    *    param order (via `d % 2`); canonicalization must erase all of it.
    *  - `p` (the path id) collapses `d ≡ 2 (mod 3)` onto `d-1`, planting
    *    canonical-URL duplicate pairs; host/params derive from `p` so the
    *    pair's canonical forms collide exactly.
    *  - `d % 11 == 0` → 404 with a plain-text body; else 200 with an HTML
    *    body of `1 + d % 9` words `w<(d*7+i) % 13>`.
    *  - `d % 7 == 0` (status 200) embeds [[FakeRecordLiteral]] in the body.
    *  - with `linkSpace > 0`, a 200 page with `d % 5 != 0` carries
    *    `1 + d % 3` EMPTY-TEXT anchors `<a href="…"></a>` to docs
    *    `(d*13 + j*17 + 1) % linkSpace` — the corpus link graph, planted
    *    with the same URL-messiness classes as the page URIs (odd `d+j`
    *    uppercases scheme+host, adds `:443` + `#frag` and scrambles the
    *    param order; `(d+j) % 6 == 4` renders the anchor UNQUOTED,
    *    `<a href=… ></a>`; `(d+j) % 6 == 2` same-host targets render
    *    RELATIVE with dot segments — `../d/…` path-relative at
    *    `%12==2`, `/d/../d/…` root-relative at `%12==8`) so
    *    canonicalization, the unquoted extraction pass, AND RFC 3986
    *    reference resolution are all load-bearing for edge extraction.
    *    Empty
    *    anchor text keeps `html_text` output byte-identical to the
    *    linkless fixture (data chunks concatenate with no separators),
    *    so only payload-level oracles see the links.
    */
  /** The messy-URL variant of one doc id — shared by every synthetic
    * record class so URL-level behavior (canonicalization, alias folds)
    * is identical across fixtures.
    */
  private[graft] def messyUri(d: Long): String = {
    val v = d % 4
    val p = if (d % 3 == 2) d - 1 else d
    val hostL = s"d${p % 7}.ex.test"
    val scheme = if (v == 1) "HTTPS" else "https"
    val host = if (v == 1) hostL.toUpperCase else hostL
    val port = if (v == 1) ":443" else ""
    val bp = if (p % 5 == 0) { if (d % 2 == 0) "a=1&b=2" else "b=2&a=1" } else ""
    val tr = if (v == 1) "utm_source=news" else ""
    val q = Seq(bp, tr).filter(_.nonEmpty).mkString("&")
    val query = if (q.nonEmpty) "?" + q else ""
    val frag = if (v == 2) "#frag" else ""
    s"$scheme://$host$port/d/$p$query$frag"
  }

  /** `changeSalt` models CONTENT DRIFT between crawl snapshots: docs with
    * `d % 4 == 3` (200-status) shift their word run by the salt, every
    * other byte stays identical — so a second synthesis with salt 1 is
    * the "re-fetch two weeks later" archive where exactly that class
    * changed. Salt 0 (the default) is byte-identical to the pre-salt
    * fixture, so existing oracles are untouched.
    */
  private[graft] def responseRecordString(d: Long, linkSpace: Long = 0L,
      changeSalt: Long = 0L): String = {
    val p = if (d % 3 == 2) d - 1 else d
    val uri = messyUri(d)
    val (statusLine, body) =
      if (d % 11 == 0) ("HTTP/1.1 404 Not Found", "not found")
      else {
        val salt = if (d % 4 == 3) changeSalt else 0L
        val words = (0L to d % 9).map(i => s"w${(d * 7 + i + salt) % 13}").mkString(" ")
        val fake = if (d % 7 == 0) FakeRecordLiteral else ""
        val links =
          if (linkSpace > 0 && d % 5 != 0)
            (0L to d % 3).map { j =>
              val dst = (d * 13 + j * 17 + 1) % linkSpace
              val pt = if (dst % 3 == 2) dst - 1 else dst
              val qsT =
                if (pt % 5 == 0) { if ((d + j) % 2 == 1) "?b=2&a=1" else "?a=1&b=2" }
                else ""
              val hostT = s"d${pt % 7}.ex.test"
              // (d+j)%6==2 same-host targets render RELATIVE (the
              // dominant form in real HTML): (d+j)%12==2 path-relative
              // with a dot segment, %12==8 root-relative with one — RFC
              // 3986 §5 resolution must collapse both onto the SAME
              // canonical the absolute form yields, so warc_links'
              // unchanged arithmetic oracle is the end-to-end proof
              val rel = (d + j) % 6 == 2 && pt % 7 == p % 7
              val href =
                if (rel && (d + j) % 12 == 2) s"../d/$pt$qsT"
                else if (rel) s"/d/../d/$pt$qsT"
                else if ((d + j) % 2 == 1) s"HTTPS://${hostT.toUpperCase}:443/d/$pt$qsT#frag"
                else s"https://$hostT/d/$pt$qsT"
              // (d+j)%6==4 renders UNQUOTED (common in older archived
              // HTML; necessarily the plain arm — 4 is even): extraction
              // must still land the identical edge, so warc_links'
              // arithmetic oracle is the proof the unquoted pass works
              if ((d + j) % 6 == 4) s"<a href=$href ></a>"
              else s"""<a href="$href"></a>"""
            }.mkString("")
          else ""
        ("HTTP/1.1 200 OK", s"<html><body>$words$fake$links</body></html>")
      }
    wrapResponse(d, uri, statusLine, body)
  }

  private def wrapResponse(d: Long, uri: String, statusLine: String,
      body: String, contentType: String = "text/html"): String = {
    val payload = statusLine + Crlf + s"Content-Type: $contentType" + Crlf + Crlf + body
    "WARC/1.0" + Crlf +
      "WARC-Type: response" + Crlf +
      s"WARC-Record-ID: <urn:uuid:doc-$d>" + Crlf +
      s"WARC-Target-URI: $uri" + Crlf +
      s"Content-Length: ${payload.length}" + Crlf + Crlf +
      payload + Crlf + Crlf
  }

  /** The BLOCK-STRUCTURED page class for main-content extraction
    * (boilerplate removal): real pages wrap the content in sitewide
    * chrome — a nav bar, related-links strips, a footer — and a training
    * pipeline that ships raw `html_text` ships the chrome too. Each
    * 200-status page here is:
    *
    *  - a nav `<div>`: 3 anchors, ALL text inside links (link density 1)
    *  - the content `<p>`: the doc's word run, zero links (density 0; a
    *    page with `d % 9 < 2` has a 1-2-token run — genuinely thin
    *    content the min-length gate must drop too)
    *  - `d % 4 == 1` only: a RELATED strip — one anchor among six plain
    *    words (density 1/7 — link-bearing but content; the case a naive
    *    "has links ⇒ boilerplate" rule misclassifies)
    *  - a footer `<div>`: two anchors + one plain token (density 2/3).
    *    The plain token is HOST-KEYED (`c<h>`) — sitewide chrome varies
    *    by SITE, not by page, so two pages with identical content on
    *    different hosts differ in raw text but collapse after
    *    main-content extraction (the syndicated-article case
    *    `warc_main_dedup` measures)
    *
    * Every token is arithmetic in `d`, so the block classifier's verdict
    * per block — and the retained main text — replays in SQL. 404s keep
    * the plain-text body (the status filter drops them before blocks).
    */
  /** Charset declaration + ENCODING classes (r16). Declaration source
    * (d % 5, refined by d % 15 on the former default classes):
    *
    *  - `d%5==0`  header `charset=ISO-8859-1` — and the body really IS
    *    latin-1 (content words carry `é` as byte 0xE9)
    *  - `d%5==1`  HTML5 `<meta charset="UTF-8">`, preceded by a DECOY
    *    `charset=EBCDIC` inside a quoted `content` attribute value that
    *    a naive attribute regex would match
    *  - `d%5==2`  HTML4 `http-equiv` `charset=Windows-1252`, body
    *    latin-1 with `é` (1252 ≡ latin-1 over the planted byte range)
    *  - `d%15==3` UTF-8 BOM + LYING header (`charset=ISO-8859-1`) — the
    *    BOM must win (WHATWG step 1); body UTF-8 with `é` (C3 A9, which
    *    latin-1 decoding would read as `Ã©`)
    *  - `d%15==8` UTF-16LE BOM, no declaration anywhere — the WHOLE
    *    body is UTF-16LE; a UTF-8 read yields NUL-riddled garbage, so
    *    every downstream oracle is load-bearing on the detected decode
    *  - `d%15==13` late decoy: a >1024-byte head comment pushes an
    *    HTML4 declaration past the WHATWG prescan bound — must resolve
    *    as the UTF-8 default
    *  - `d%15==4` CONFLICTING metas, HTML4 (`ISO-8859-5`) before HTML5
    *    (`KOI8-R`) — the EARLIER declaration wins (document order, not
    *    form priority); ASCII body
    *  - `d%15∈{9,14}` undeclared → UTF-8 default.
    *
    * Encoding classes (0, 2 latin-1; 3 UTF-8+BOM; 8 UTF-16LE) prefix
    * the content words with `é` so the decoded text differs from the
    * raw bytes' UTF-8 reading — detection FEEDS decode, and a green
    * oracle proves the decoded chars, not byte identity. The returned
    * string is byte-TRANSPARENT latin-1 (char i ↦ byte i), which
    * [[synthesizeFiles]] writes back with ISO_8859_1.
    */
  private[graft] def bpResponseRecordString(d: Long): String = {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8, UTF_16LE}
    val uri = messyUri(d)
    if (d % 11 == 0)
      return wrapResponse(d, uri, "HTTP/1.1 404 Not Found", "not found")
    val p = if (d % 3 == 2) d - 1 else d
    val enc = d % 5 == 0 || d % 5 == 2 || d % 15 == 3 || d % 15 == 8
    // d%15==9: DECOMPOSED accent (e + U+0301 combining acute, undeclared
    // UTF-8) — visibly identical to the precomposed classes' é but a
    // different code-point sequence; the NFC tier must fold it
    val wp =
      if (enc) "wé"
      else if (d % 15 == 9) "we\u0301"
      else "w"
    val words = (0L to d % 9).map(i => s"$wp${(d * 7 + i) % 13}").mkString(" ")
    val related =
      if (d % 4 == 1)
        """<div><a href="/r">more</a> w1 w2 w3 w4 w5 w6</div>"""
      else ""
    val contentType =
      if (d % 5 == 0 || d % 15 == 3) "text/html; charset=ISO-8859-1"
      else "text/html"
    val head =
      if (d % 5 == 1)
        "<head><meta name=\"description\" content=\"all about charset=EBCDIC pages\">" +
          "<meta charset=\"UTF-8\"></head>"
      else if (d % 5 == 2)
        "<head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=Windows-1252\"></head>"
      else if (d % 15 == 13)
        "<head><!-- " + "x" * 1100 + " --><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=ISO-8859-1\"></head>"
      else if (d % 15 == 4)
        "<head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=ISO-8859-5\">" +
          "<meta charset=\"KOI8-R\"></head>"
      else if (d % 15 == 14)
        // script decoy: block-tag text inside a script STRING — a
        // depth-tracking scanner without rawtext awareness opens a
        // phantom block here and surfaces "decoy" (plus trailing script
        // code) as junk segments, shifting every count downstream
        "<head><script>var nav = \"<div>decoy</div>\";</script></head>"
      else ""
    // d%13==5: NESTED nav chrome — the real-HTML shape (nav bars are
    // nested divs with a breadcrumb trailing the inner close). Under
    // depth-aware segmentation this yields TWO all-anchor segments
    // (inner nav, breadcrumb), both dropped; the r15 regex form
    // truncated the outer div at the inner close and LOST the crumb.
    val nav =
      if (d % 13 == 5)
        """<div><div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div> <a href="/crumb">crumb</a></div>"""
      else
        """<div><a href="/">nav0</a> <a href="/about">nav1</a> <a href="/news">nav2</a></div>"""
    val html =
      "<html>" + head + "<body>" + nav +
        s"<p>$words</p>" + related +
        s"""<div><a href="/about">about</a> <a href="/contact">contact</a> c${p % 7}</div>""" +
        "</body></html>"
    val bytes: Array[Byte] =
      if (d % 15 == 3)
        Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ html.getBytes(UTF_8)
      else if (d % 15 == 8)
        Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes(UTF_16LE)
      else if (d % 15 == 9)
        html.getBytes(UTF_8) // decomposed class: plain undeclared UTF-8
      else html.getBytes(ISO_8859_1) // latin-1 AND plain-ASCII classes
    wrapResponse(d, uri, "HTTP/1.1 200 OK", new String(bytes, ISO_8859_1),
      contentType)
  }

  /** The rel=canonical page class (RFC 6596): variants (`d % 4 > 0`,
    * 200-status) DECLARE their family head (`base = d - d%4`,
    * alias-folded) as canonical — odd `d` in the messy
    * shouting-caps-with-port form, `d % 3 == 0` with the rel attribute
    * AFTER href (attribute order is free in real HTML) — while family
    * heads (`d % 4 == 0`) declare nothing. Every head carries stylesheet
    * and alternate `<link>` decoys the extractor must skip. Family
    * members live on DIFFERENT hosts (host = p % 7 moves with d), so the
    * declared-canonical fold collapses groups URL-string
    * canonicalization can never see — the cross-host syndication shape.
    * All arithmetic in `d`; the oracle replays extraction,
    * canonicalization, and the fold.
    */
  private[graft] def canonicalResponseRecordString(d: Long): String = {
    val uri = messyUri(d)
    if (d % 11 == 0)
      return wrapResponse(d, uri, "HTTP/1.1 404 Not Found", "not found")
    val base = d - (d % 4)
    val pt = if (base % 3 == 2) base - 1 else base
    val declared = d % 4 > 0
    val href =
      if (d % 2 == 1) s"HTTPS://D${pt % 7}.EX.TEST:443/d/$pt#frag"
      else s"https://d${pt % 7}.ex.test/d/$pt"
    val canon =
      if (!declared) ""
      else if (d % 3 == 0) s"""<link href="$href" rel="canonical">"""
      else s"""<link rel="canonical" href="$href">"""
    // hreflang translation links (r16): every 200 page lists its family
    // SIBLINGS as language alternates — lang keyed by the sibling's
    // variant slot, odd (d + j) rendering the href in the messy
    // shouting-caps-with-port form, j % 2 == 1 putting hreflang BEFORE
    // rel (attribute order is free). The feed alternate below carries
    // NO hreflang and must never surface as a translation.
    // targets are the siblings' RAW variant urls (no alias fold): the
    // author links the pages as published, which keeps translation
    // families DISJOINT in url space — alias overlap across family
    // boundaries is the connected-components operator's business, and
    // folding here made adjacent families share boundary urls, breaking
    // the one-agg cluster assembly's disjointness precondition
    val langs = Seq("en", "fr", "de", "es")
    val hreflangs = (0 to 3).filter(_ != (d % 4).toInt).map { j =>
      val sib = base + j
      val pj = sib
      val h =
        if ((d + j) % 2 == 1) s"HTTPS://D${pj % 7}.EX.TEST:443/d/$pj#frag"
        else s"https://d${pj % 7}.ex.test/d/$pj"
      if (j % 2 == 1)
        s"""<link hreflang="${langs(j)}" rel="alternate" href="$h">"""
      else
        s"""<link rel="alternate" href="$h" hreflang="${langs(j)}">"""
    }.mkString("")
    val head = "<head>" +
      """<link rel="stylesheet" href="/css/site.css">""" + canon + hreflangs +
      """<link rel="alternate" href="/feed.xml">""" + "</head>"
    val words = (0L to d % 9).map(i => s"w${(d * 7 + i) % 13}").mkString(" ")
    wrapResponse(d, uri, "HTTP/1.1 200 OK",
      s"<html>$head<body>$words</body></html>")
  }

  /** The MIME-class page fixture: real crawls fetch plenty of non-HTML,
    * and the WET stage must gate on the Content-Type MEDIA TYPE before
    * extraction (Common Crawl's WET layer covers text responses only;
    * shoving PDF bytes through an HTML extractor yields garbage tokens
    * that poison every downstream text statistic). Classes: `d%6==3` →
    * `application/pdf` (parameter-bearing header, mixed case — the
    * normalizer must strip both), `d%6==5` → `text/plain` (extraction =
    * the raw body), else `text/html`; 404s as usual.
    */
  private[graft] def mimeResponseRecordString(d: Long): String = {
    val uri = messyUri(d)
    if (d % 11 == 0)
      return wrapResponse(d, uri, "HTTP/1.1 404 Not Found", "not found")
    val words = (0L to d % 9).map(i => s"w${(d * 7 + i) % 13}").mkString(" ")
    if (d % 6 == 3)
      wrapResponse(d, uri, "HTTP/1.1 200 OK", s"%PDF-1.4 $words endobj",
        "Application/PDF; version=1.4")
    else if (d % 6 == 5)
      wrapResponse(d, uri, "HTTP/1.1 200 OK", words, "text/plain; charset=UTF-8")
    else
      wrapResponse(d, uri, "HTTP/1.1 200 OK",
        s"<html><body>$words</body></html>", "text/html")
  }

  /** The LYING-HEADER page fixture for magic-byte MIME sniffing: real
    * crawls mislabel constantly, and a WET gate that trusts the declared
    * `Content-Type` alone both poisons itself (PDF bytes declared
    * `text/html` go through the HTML extractor as garbage tokens) and
    * starves itself (real HTML behind `application/octet-stream` is
    * dropped). Classes beyond [[mimeResponseRecordString]]'s truthful
    * ones: `d%6==1` declares `text/html` but the body is PDF bytes
    * (the poison class); `d%6==2` declares `application/octet-stream`
    * but the body is HTML (the recoverable class); `d%6==3` truthful
    * PDF, `d%6==5` truthful plain, else truthful HTML; 404s as usual.
    */
  private[graft] def sniffResponseRecordString(d: Long): String = {
    val uri = messyUri(d)
    if (d % 11 == 0)
      return wrapResponse(d, uri, "HTTP/1.1 404 Not Found", "not found")
    val words = (0L to d % 9).map(i => s"w${(d * 7 + i) % 13}").mkString(" ")
    if (d % 6 == 1)
      wrapResponse(d, uri, "HTTP/1.1 200 OK", s"%PDF-1.4 $words endobj",
        "text/html")
    else if (d % 6 == 2)
      wrapResponse(d, uri, "HTTP/1.1 200 OK",
        s"<html><body>$words</body></html>", "application/octet-stream")
    else if (d % 6 == 3)
      wrapResponse(d, uri, "HTTP/1.1 200 OK", s"%PDF-1.4 $words endobj",
        "Application/PDF; version=1.4")
    else if (d % 6 == 5)
      wrapResponse(d, uri, "HTTP/1.1 200 OK", words, "text/plain; charset=UTF-8")
    else
      wrapResponse(d, uri, "HTTP/1.1 200 OK",
        s"<html><body>$words</body></html>", "text/html")
  }

  /** The file-leading `warcinfo` record real archives carry; readers that
    * want pages must filter on `WARC-Type` ([[responses]]).
    */
  private[graft] val warcinfoRecordString: String = {
    val payload = "software: graft-warc-synth\r\nformat: WARC File Format 1.0"
    "WARC/1.0" + Crlf + "WARC-Type: warcinfo" + Crlf +
      s"Content-Length: ${payload.length}" + Crlf + Crlf + payload + Crlf + Crlf
  }

  /** Distributed fixture writer: each doc id lands in file `doc_id %
    * nFiles` (or, with `rangePartition`, file `doc_id / chunk` — the
    * crawl-SEGMENT layout where file order follows id order, so a reader
    * consuming files sequentially sees ids in order), records in id
    * order, a `warcinfo` record first, the whole file one gzip member
    * (the WET layout; per-record members would read identically —
    * `GZIPInputStream` walks concatenated members). One task writes each
    * file: a shuffle of bare ids buys file-granular parallel encode.
    * Returns the response-record count written.
    */
  def synthesizeFiles(spark: SparkSession, ids: DataFrame, idCol: String,
      dir: String, nFiles: Int = 16, gzip: Boolean = true,
      rangePartition: Boolean = false, linkSpace: Long = 0L,
      changeSalt: Long = 0L,
      recordFor: Long => String = null,
      zstd: Boolean = false): Long = {
    import spark.implicits._
    val target = dir
    val doGzip = gzip
    val doZstd = zstd
    val links = linkSpace
    val salt = changeSalt
    // record synthesizer: the default crawl page, or a caller-supplied
    // page class (boilerplate layout) — a pure Long => String, captured
    // into the task closure
    val mk: Long => String =
      if (recordFor != null) recordFor
      else d => responseRecordString(d, links, salt)
    val id = col(idCol).cast("long")
    val fileNo =
      if (rangePartition) {
        val maxRow = ids.agg(max(id)).first()
        val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) // empty ids
        val chunk = maxId / nFiles + 1 // ceil((max+1)/nFiles)
        least(floor(id / chunk), lit(nFiles - 1)).cast("int")
      } else (id % nFiles).cast("int")
    val written = ids
      .select(id.as("doc_id"), fileNo.as("file_no"))
      .repartition(nFiles, col("file_no"))
      .sortWithinPartitions("file_no", "doc_id")
      .select("file_no", "doc_id").as[(Int, Long)]
      .mapPartitions { it =>
        // file:// here; a fresh Configuration resolves cluster defaults
        // (core-site on the classpath) for HDFS/S3A targets the same way
        val conf = new Configuration()
        val counts = ArrayBuffer[Long]()
        var cur = -1
        var out: OutputStream = null
        var n = 0L
        def closeFile(): Unit = if (out != null) { out.close(); counts += n }
        it.foreach { case (f, d) =>
          if (f != cur) {
            closeFile(); cur = f; n = 0L
            val ext =
              if (doZstd) ".zst" else if (doGzip) ".gz" else ""
            val p = new Path(target, f"part-$f%05d.warc" + ext)
            val raw = p.getFileSystem(conf).create(p, true)
            out =
              if (doZstd) new com.github.luben.zstd.ZstdOutputStream(raw)
              else if (doGzip) new GZIPOutputStream(raw)
              else raw
            out.write(warcinfoRecordString.getBytes(US_ASCII))
          }
          // ISO-8859-1, not US-ASCII: byte-TRANSPARENT (char i ↦ byte i
          // for 0..255), so record synthesizers can express arbitrary
          // payload bytes — the UTF-16/latin-1/BOM encoding classes —
          // as chars. Byte-identical to US_ASCII for all-ASCII records,
          // where US_ASCII would mangle every non-ASCII char to '?'.
          out.write(mk(d).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
          n += 1L
        }
        closeFile()
        counts.iterator
      }
      .collect()
    written.sum
  }

  /** WARC SINK — the source's symmetric half: re-export records (a
    * filtered sub-archive, a curated corpus slice) as standard WARC
    * files that any archive tooling — and [[readRecords]] — reads back.
    * One gzipped file per partition, each led by a `warcinfo` record;
    * headers are re-serialized from the record fields (absent
    * `record_id`/`uri` headers are omitted, exactly how a parse of the
    * output recovers them as null), `Content-Length` from the payload
    * itself. Quarantine rows are refused — they have no payload to
    * serialize and re-exporting them would forge records.
    *
    * Returns the record count written. Same task-side streaming shape as
    * [[synthesizeFiles]]: nothing held beyond one record, parallelism =
    * `nFiles`. Records are dealt to files on their content alone: the
    * round robin orders rows by a hash of their bytes, so `path` (never
    * written) is cleared first, or the output bytes would depend on where
    * the source archive lives.
    */
  def writeRecords(records: Dataset[WarcRecord], dir: String,
      nFiles: Int = 16, gzip: Boolean = true): Long = {
    import records.sparkSession.implicits._
    val target = dir
    val doGzip = gzip
    val written = records.withColumn("path", lit("")).as[WarcRecord]
      .repartition(nFiles)
      .mapPartitions { it =>
        val conf = new Configuration()
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var out: OutputStream = null
        var n = 0L
        it.foreach { r =>
          require(r.warc_type != "ingest_error" && r.payload != null,
            "quarantine rows cannot be re-exported as WARC records")
          // header VALUES are line-framed: an embedded CRLF would forge
          // header boundaries (payloads are Content-Length-framed and may
          // contain anything)
          require(Seq(r.warc_type, r.record_id, r.uri)
              .forall(v => v == null || (!v.contains('\r') && !v.contains('\n'))),
            "header fields must not contain CR/LF")
          if (out == null) {
            val p = new Path(target,
              f"part-$pid%05d.warc" + (if (doGzip) ".gz" else ""))
            val raw = p.getFileSystem(conf).create(p, true)
            out = if (doGzip) new GZIPOutputStream(raw) else raw
            out.write(warcinfoRecordString.getBytes(US_ASCII))
          }
          val headers = new StringBuilder("WARC/1.0").append(Crlf)
          headers.append("WARC-Type: ").append(r.warc_type).append(Crlf)
          if (r.record_id != null)
            headers.append("WARC-Record-ID: ").append(r.record_id).append(Crlf)
          if (r.uri != null)
            headers.append("WARC-Target-URI: ").append(r.uri).append(Crlf)
          if (r.truncated)
            headers.append("WARC-Truncated: length").append(Crlf)
          headers.append("Content-Length: ").append(r.payload.length).append(Crlf)
          headers.append(Crlf)
          out.write(headers.toString.getBytes(US_ASCII))
          out.write(r.payload)
          out.write((Crlf + Crlf).getBytes(US_ASCII))
          n += 1L
        }
        if (out != null) out.close()
        Iterator.single(n)
      }
      .collect()
    written.sum
  }

  /** Payload capping — the crawler's response-size limit (ISO 28500
    * §5.13 `length` truncation): payloads over `maxBytes` cut to the
    * prefix and marked truncated; [[writeRecords]] emits the
    * `WARC-Truncated: length` header and [[parseAll]] surfaces the
    * marker on read-back. Map-side transform — compose with
    * [[writeRecords]] for a capped export.
    */
  def capPayloads(records: Dataset[WarcRecord], maxBytes: Int): Dataset[WarcRecord] = {
    import records.sparkSession.implicits._
    require(maxBytes >= 0, "maxBytes must be non-negative")
    records.map { r =>
      if (r.payload != null && r.payload.length > maxBytes)
        r.copy(payload = java.util.Arrays.copyOf(r.payload, maxBytes),
          truncated = true)
      else r
    }
  }

  /** Revisit-aware export — the storage half of the WARC dedup model
    * (ISO 28500 §6.7.2): per payload digest, ONE record keeps its bytes
    * (the lexicographically-first record id — deterministic, rerun-
    * stable); every other identical payload is written as a `revisit`
    * record carrying `WARC-Refers-To` (the stored record's id) and
    * `WARC-Payload-Digest` instead of a body. Readers resolve the
    * pointer through the digest or the referred id; [[readRecords]]
    * walks revisit records like any other (Content-Length 0).
    *
    * Scale shape: the canonical election shuffles (digest, record_id)
    * POINTERS only; the bytes move exactly once, on the digest
    * repartition both join sides share (same single-byte-move cost as
    * [[writeRecords]]'s repartition — co-partitioned inputs, so the join
    * itself adds no exchange). Output is `nFiles` files keyed by digest.
    */
  def writeRecordsDeduped(records: Dataset[WarcRecord], dir: String,
      nFiles: Int = 16, gzip: Boolean = true): Long = {
    import records.sparkSession.implicits._
    val target = dir
    val doGzip = gzip
    val withDigest = records.toDF()
      .withColumn("digest", md5(col("payload")))
      .repartition(nFiles, col("digest"))
    val canon = withDigest.select("digest", "record_id")
      .groupBy("digest").agg(min(col("record_id")).as("canon_id"))
    val written = withDigest.join(canon, Seq("digest"))
      .select(col("warc_type"), col("record_id"), col("uri"),
        col("payload"), col("digest"), col("canon_id"))
      .as[(String, String, String, Array[Byte], String, String)]
      .mapPartitions { it =>
        val conf = new Configuration()
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var out: OutputStream = null
        var n = 0L
        it.foreach { case (wtype, rid, uri, payload, digest, canonId) =>
          require(wtype != "ingest_error" && payload != null,
            "quarantine rows cannot be re-exported as WARC records")
          require(Seq(wtype, rid, uri)
              .forall(v => v == null || (!v.contains('\r') && !v.contains('\n'))),
            "header fields must not contain CR/LF")
          if (out == null) {
            val p = new Path(target,
              f"part-$pid%05d.warc" + (if (doGzip) ".gz" else ""))
            val raw = p.getFileSystem(conf).create(p, true)
            out = if (doGzip) new GZIPOutputStream(raw) else raw
            out.write(warcinfoRecordString.getBytes(US_ASCII))
          }
          // a group with no identifiable canonical (all-null record ids)
          // stores every member — a revisit record must point at an id
          val isStored = canonId == null || (rid != null && rid == canonId)
          val h = new StringBuilder("WARC/1.0").append(Crlf)
          if (isStored) {
            h.append("WARC-Type: ").append(wtype).append(Crlf)
            if (rid != null) h.append("WARC-Record-ID: ").append(rid).append(Crlf)
            if (uri != null) h.append("WARC-Target-URI: ").append(uri).append(Crlf)
            h.append("Content-Length: ").append(payload.length).append(Crlf)
            h.append(Crlf)
            out.write(h.toString.getBytes(US_ASCII))
            out.write(payload)
          } else {
            h.append("WARC-Type: revisit").append(Crlf)
            if (rid != null) h.append("WARC-Record-ID: ").append(rid).append(Crlf)
            if (uri != null) h.append("WARC-Target-URI: ").append(uri).append(Crlf)
            h.append("WARC-Refers-To: ").append(canonId).append(Crlf)
            h.append("WARC-Payload-Digest: md5:").append(digest).append(Crlf)
            h.append("Content-Length: 0").append(Crlf)
            h.append(Crlf)
            out.write(h.toString.getBytes(US_ASCII))
          }
          out.write((Crlf + Crlf).getBytes(US_ASCII))
          n += 1L
        }
        if (out != null) out.close()
        Iterator.single(n)
      }
      .collect()
    written.sum
  }

  private def gunzip(raw: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(raw))
    try in.readAllBytes() finally in.close()
  }

  /** zstd member decode — Common Crawl's successor compression for
    * WARC-at-rest (`.warc.zst`); the zstd-jni that ships with Spark
    * (shuffle/parquet codec) decodes it, no extra dependency. Like
    * gzip, a zstd stream is non-splittable without the seekable-frame
    * extension, so parallelism stays file-granular.
    */
  private def unzstd(raw: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(raw))
    try in.readAllBytes() finally in.close()
  }

  private def startsWith(b: Array[Byte], at: Int, s: String): Boolean = {
    if (at + s.length > b.length) return false
    var i = 0
    while (i < s.length) { if (b(at + i) != s.charAt(i).toByte) return false; i += 1 }
    true
  }

  private def indexOf(b: Array[Byte], s: String, from: Int): Int = {
    var i = from
    val last = b.length - s.length
    while (i <= last) { if (startsWith(b, i, s)) return i; i += 1 }
    -1
  }

  /** Parse one file's bytes (gzip sniffed on magic) into records by the
    * Content-Length walk. On ANY malformation the records parsed so far
    * survive and one quarantine row (`warc_type = "ingest_error"`) marks
    * the file — never an exception out of a task.
    */
  private[graft] def parseAll(path: String, raw: Array[Byte]): Seq[WarcRecord] = {
    val out = ArrayBuffer[WarcRecord]()
    try {
      val bytes =
        if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) gunzip(raw)
        else if (raw.length >= 4 && (raw(0) & 0xff) == 0x28 && (raw(1) & 0xff) == 0xb5 &&
          (raw(2) & 0xff) == 0x2f && (raw(3) & 0xff) == 0xfd) unzstd(raw)
        else raw
      var i = 0
      var done = false
      while (!done) {
        while (i + 1 < bytes.length && bytes(i) == '\r' && bytes(i + 1) == '\n') i += 2
        if (i >= bytes.length) done = true
        else {
          require(startsWith(bytes, i, "WARC/"), s"bad record magic at offset $i")
          val headerEnd = indexOf(bytes, "\r\n\r\n", i)
          require(headerEnd >= 0, "unterminated header block")
          val headers = new String(bytes, i, headerEnd - i, US_ASCII)
            .split("\r\n").iterator.drop(1)
            .flatMap { ln =>
              val j = ln.indexOf(": ")
              if (j < 0) None else Some(ln.substring(0, j) -> ln.substring(j + 2))
            }
            .toMap
          val len = headers.getOrElse("Content-Length",
            sys.error("record without Content-Length")).trim.toInt
          require(len >= 0, "negative Content-Length")
          val payloadStart = headerEnd + 4
          require(payloadStart + len <= bytes.length, "truncated payload")
          out += WarcRecord(path,
            headers.getOrElse("WARC-Type", null),
            headers.getOrElse("WARC-Record-ID", null),
            headers.getOrElse("WARC-Target-URI", null),
            Some(len.toLong),
            java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + len),
            truncated = headers.contains("WARC-Truncated"))
          i = payloadStart + len
          require(startsWith(bytes, i, "\r\n\r\n"), "missing record terminator")
          i += 4
        }
      }
      out.toSeq
    } catch {
      case NonFatal(_) =>
        out.toSeq :+ WarcRecord(path, "ingest_error", null, null, None, null)
    }
  }

  /** All records under `glob` (a dir or glob of `.warc[.gz]` files), one
    * file per task via the `binaryFile` source — the right granularity
    * for non-splittable gzip (see class doc). `binaryFile`'s 2 GB-per-file
    * ceiling comfortably holds the ~1 GB production shard size.
    */
  def readRecords(spark: SparkSession, glob: String): Dataset[WarcRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(glob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, c) => parseAll(p, c) }
  }

  /** The page-bearing records (drops `warcinfo`/`request`/metadata and
    * quarantine rows) — what a text pipeline consumes.
    */
  def responses(records: Dataset[WarcRecord]): Dataset[WarcRecord] =
    records.filter(col("warc_type") === "response")

  /** The WET stage: split each response payload into HTTP status /
    * headers / body with native column functions (stays inside
    * whole-stage codegen — no UDF). Splits on the FIRST blank line only,
    * so a body that itself contains `\r\n\r\n` (the planted
    * [[FakeRecordLiteral]], multipart payloads) survives intact.
    * A payload with no blank line at all yields NULL status/body — the
    * quarantine posture, never an exception.
    *
    * Output adds to each input row: `http_status` (int), `content_type`
    * (null when the header is absent), `body` (string — the payload
    * bytes read as UTF-8, the pre-charset-detection view), and
    * `body_bytes` (binary — the raw body bytes, what charset-aware
    * consumers feed through `Charset.detect` + `Charset.decodeWith`).
    *
    * The blank-line offset is found in the UTF-8-cast view but applied
    * to the BYTES: valid because the HTTP head is ASCII (RFC 9110 field
    * syntax), so every char before the first blank line is one byte and
    * char position == byte position. A head with non-ASCII junk bytes
    * would garble the offset — such payloads already yield garbage
    * under any split and land in quarantine-shaped nulls downstream.
    */
  def httpParsed(responses: DataFrame): DataFrame = {
    val p = col("payload").cast("string")
    val at = instr(p, "\r\n\r\n")
    val head = when(at > 0, p.substr(lit(1), at - 1))
    val statusLine = substring_index(head, Crlf, 1)
    responses
      // regexp-anchored, not split+element_at: a malformed status line
      // must yield NULL, and under ANSI both an out-of-bounds element_at
      // and a non-numeric cast would throw out of the task instead
      .withColumn("http_status",
        nullif(regexp_extract(statusLine, "^HTTP/[0-9.]+ (\\d{3})(?: |$)", 1),
          lit("")).cast("int"))
      .withColumn("content_type",
        nullif(regexp_extract(head, "(?mi)^content-type: ([^\r\n]*)", 1), lit("")))
      .withColumn("body", when(at > 0, p.substr(at + 4, length(p))))
      .withColumn("body_bytes",
        when(at > 0, col("payload").substr(at + 4, length(col("payload")))))
  }
}
