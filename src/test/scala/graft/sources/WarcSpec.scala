package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.functions.Url
import org.apache.spark.sql.functions._

/** WARC ingestion (sources/Warc.scala): write -> gzip -> read -> record
  * walk -> HTTP split round-trip, the planted in-body record-header decoy,
  * the quarantine posture on corrupt members, and URL canonicalization.
  */
class WarcSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  private def synth(dir: String, n: Int, nFiles: Int = 4, gzip: Boolean = true): Long = {
    val ids = spark.range(n.toLong).select(col("id").as("doc_id"))
    Warc.synthesizeFiles(spark, ids, "doc_id", dir, nFiles, gzip)
  }

  test("round-trip: every synthesized record comes back byte-exact, plus one warcinfo per file") {
    val dir = tmp("warc_rt")
    assert(synth(dir, 50) === 50L)
    val recs = Warc.readRecords(spark, dir).collect()
    assert(recs.count(_.warc_type == "warcinfo") === 4)
    assert(!recs.exists(_.warc_type == "ingest_error"))
    val resp = recs.filter(_.warc_type == "response")
    assert(resp.length === 50)
    val byId = resp.map(r => r.record_id.stripPrefix("<urn:uuid:doc-").stripSuffix(">").toLong -> r).toMap
    assert(byId.keySet === (0L until 50L).toSet)
    (0L until 50L).foreach { d =>
      val full = Warc.responseRecordString(d)
      val r = byId(d)
      // the synthesized record's payload is everything between the header
      // blank line and the record terminator
      val expectedPayload = full.substring(full.indexOf("\r\n\r\n") + 4, full.length - 4)
      assert(new String(r.payload, US_ASCII) === expectedPayload, s"doc $d")
      assert(r.content_length === Some(expectedPayload.length.toLong), s"doc $d")
    }
  }

  test("planted link anchors: empty text keeps html_text byte-identical; " +
      "hrefs() recovers exactly the planted targets") {
    import graft.functions.HtmlTextColumn
    import spark.implicits._
    // every 200-status linked doc: anchors change the BYTES but not the
    // extracted text (data chunks concatenate with no separators)
    (0L until 50L).filter(d => d % 11 != 0).foreach { d =>
      def body(s: String) =
        s.substring(s.indexOf("<html>"), s.lastIndexOf("</html>") + 7)
      val plain  = body(Warc.responseRecordString(d))
      val linked = body(Warc.responseRecordString(d, linkSpace = 50L))
      val row = Seq((plain, linked)).toDF("a", "b")
        .select(HtmlTextColumn.htmlText(col("a")),
          HtmlTextColumn.htmlText(col("b")),
          HtmlTextColumn.hrefs(col("b")))
        .collect().head
      assert(row.getString(0) === row.getString(1),
        s"doc $d: anchors perturbed the text")
      val hrefs = row.getSeq[String](2)
      val expected = if (d % 5 == 0) 0 else (d % 3 + 1).toInt
      assert(hrefs.size === expected, s"doc $d")
      assert(hrefs.forall(_.contains("/d/")), s"doc $d")
    }
  }

  test("content-length walk reads THROUGH the planted record-header decoy") {
    // d=7: 200-status body embeds FakeRecordLiteral (7%7==0, 7%11!=0).
    // A delimiter-scanning parser would split the record there.
    val dir = tmp("warc_decoy")
    synth(dir, 8, nFiles = 1)
    val resp = Warc.responses(Warc.readRecords(spark, dir)).collect()
    assert(resp.length === 8)
    val d7 = resp.find(_.record_id == "<urn:uuid:doc-7>").get
    val body = new String(d7.payload, US_ASCII)
    assert(body.contains("WARC/1.0")) // the decoy IS in the payload bytes...
    assert(body.contains("gotcha!"))  // ...all the way to its end
    assert(d7.content_length === Some(body.length.toLong))
  }

  test("uncompressed and zstd files read identically (codec sniff on magic bytes)") {
    val gz = tmp("warc_gz"); val plain = tmp("warc_plain"); val zst = tmp("warc_zst")
    synth(gz, 20); synth(plain, 20, gzip = false)
    val ids = spark.range(20L).select(col("id").as("doc_id"))
    Warc.synthesizeFiles(spark, ids, "doc_id", zst, nFiles = 4,
      gzip = false, zstd = true)
    // the zstd files really are zstd members, not renamed plain files
    val f = Files.list(Paths.get(zst)).filter(_.toString.endsWith(".warc.zst"))
      .findFirst().get()
    val magic = Files.readAllBytes(f).take(4).map(_ & 0xff)
    assert(magic.toSeq === Seq(0x28, 0xb5, 0x2f, 0xfd))
    def recs(dir: String) =
      Warc.readRecords(spark, dir).collect().filter(_.warc_type == "response")
        .map(r => (r.record_id, new String(r.payload, US_ASCII))).sortBy(_._1).toSeq
    assert(recs(gz) === recs(plain))
    assert(recs(gz) === recs(zst))
  }

  test("corrupt member quarantines: parsed-so-far survive plus ONE ingest_error row, job never fails") {
    val dir = tmp("warc_corrupt")
    synth(dir, 12, nFiles = 2, gzip = false)
    // truncate one file mid-record: keep the warcinfo + first two
    // responses, then chop the third response 40 bytes into its header
    val f = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".warc")).findFirst().get()
    val bytes = Files.readAllBytes(f)
    val s = new String(bytes, US_ASCII)
    val secondRec = s.indexOf("WARC/1.0", s.indexOf("WARC-Type: response"))
    val thirdRec = s.indexOf("WARC/1.0", secondRec + 1)
    Files.write(f, s.substring(0, thirdRec + 40).getBytes(US_ASCII))
    // the fixture writer went through Hadoop's checksummed LocalFileSystem;
    // rewriting the file behind its back stales the .crc sidecar
    Files.deleteIfExists(f.resolveSibling("." + f.getFileName.toString + ".crc"))
    val recs = Warc.readRecords(spark, dir).collect()
    val errs = recs.filter(_.warc_type == "ingest_error")
    assert(errs.length === 1)
    assert(errs.head.path.endsWith(f.getFileName.toString))
    assert(errs.head.content_length === None)
    // the intact sibling file still contributes all 6 of its records; the
    // corrupt one its prefix (warcinfo + two responses)
    assert(recs.count(_.warc_type == "warcinfo") === 2)
    assert(recs.count(_.warc_type == "response") === 8)
  }

  test("httpParsed splits on the FIRST blank line only; 404s and missing-header corners covered") {
    val dir = tmp("warc_http")
    synth(dir, 12, nFiles = 1)
    val parsed = Warc.httpParsed(Warc.responses(Warc.readRecords(spark, dir)).toDF())
      .select(regexp_extract(col("record_id"), "doc-(\\d+)", 1).cast("long").as("d"),
        col("http_status"), col("content_type"), col("body"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(parsed(0L).getInt(1) === 404) // 0%11==0
    assert(parsed(1L).getInt(1) === 200)
    assert(parsed(0L).getString(2) === "text/html")
    assert(parsed(0L).getString(3) === "not found")
    // d=7 embeds the decoy (which contains \r\n\r\n): the body keeps it
    val b7 = parsed(7L).getString(3)
    assert(b7.startsWith("<html><body>"))
    assert(b7.contains("gotcha!"))
    assert(b7.endsWith("</body></html>"))
    // payload with no blank line -> null status/body, no exception
    import spark.implicits._
    val weird = Seq(("p", "x", "r", "u", Some(3L), "abc".getBytes(US_ASCII)))
      .toDF("path", "warc_type", "record_id", "uri", "content_length", "payload")
    val w = Warc.httpParsed(weird).select("http_status", "body").collect().head
    assert(w.isNullAt(0) && w.isNullAt(1))
    // malformed status line -> null status (ANSI would throw on a
    // split+element_at+cast form), body still split out
    val odd = Seq(("p", "x", "r", "u", Some(11L), "hello\r\n\r\nbody".getBytes(US_ASCII)))
      .toDF("path", "warc_type", "record_id", "uri", "content_length", "payload")
    val o = Warc.httpParsed(odd).select("http_status", "body").collect().head
    assert(o.isNullAt(0) && o.getString(1) === "body")
  }

  test("writeRecords round-trips byte-exactly, refuses quarantine rows and CRLF header values") {
    val src = tmp("warc_w_src"); val out = tmp("warc_w_out")
    synth(src, 30)
    val records = Warc.responses(Warc.readRecords(spark, src))
    assert(Warc.writeRecords(records, out, nFiles = 3) === 30L)
    val back = Warc.readRecords(spark, out).collect()
    assert(back.count(_.warc_type == "warcinfo") === 3) // one per written file
    val a = records.collect().map(r =>
      (r.record_id, r.uri, r.content_length, new String(r.payload, US_ASCII))).sortBy(_._1)
    val b = back.filter(_.warc_type == "response").map(r =>
      (r.record_id, r.uri, r.content_length, new String(r.payload, US_ASCII))).sortBy(_._1)
    assert(a.toSeq === b.toSeq) // incl. the d=7/14/21/28 decoy payloads
    import spark.implicits._
    val quarantine = Seq(WarcRecord("p", "ingest_error", null, null, None, null)).toDS()
    assertThrows[org.apache.spark.SparkException](
      Warc.writeRecords(quarantine, tmp("warc_w_bad")))
    val crlf = Seq(WarcRecord("p", "response", "<id>", "u\r\nX: y", Some(1L),
      "a".getBytes(US_ASCII))).toDS()
    assertThrows[org.apache.spark.SparkException](
      Warc.writeRecords(crlf, tmp("warc_w_bad2")))
  }

  test("writeRecords output bytes do not depend on where the source archive lives") {
    val root = tmp("warc_place")
    val a = s"$root/a/archive"; val b = s"$root/bb/archive"
    synth(a, 40)
    Files.createDirectories(Paths.get(b))
    Files.list(Paths.get(a)).forEach(f => Files.copy(f, Paths.get(b).resolve(f.getFileName)))
    // file name -> md5 of its bytes
    def export(src: String, out: String): Map[String, String] = {
      Warc.writeRecords(Warc.readRecords(spark, src), out, nFiles = 3)
      Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(f => f.getFileName.toString ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(Files.readAllBytes(f)))
        .toMap
    }
    val fromA = export(a, s"$root/outa")
    assert(fromA.size === 3)
    assert(export(b, s"$root/outb") === fromA)
  }

  test("writeRecordsDeduped: one stored response per distinct payload, revisit pointers " +
      "carry WARC-Refers-To + WARC-Payload-Digest, and the read-back ledger balances") {
    val src = tmp("warc_dd_src"); val out = tmp("warc_dd_out")
    synth(src, 44) // 4 identical 404 bodies (0,11,22,33) at minimum
    val records = Warc.responses(Warc.readRecords(spark, src))
    val byPayload = records.collect()
      .groupBy(r => new String(r.payload, US_ASCII))
    val distinctPayloads = byPayload.size
    assert(Warc.writeRecordsDeduped(records, out, nFiles = 3) === 44L)
    val back = Warc.readRecords(spark, out).collect()
    val resp = back.filter(_.warc_type == "response")
    val revisit = back.filter(_.warc_type == "revisit")
    assert(resp.length === distinctPayloads)
    assert(revisit.length === 44 - distinctPayloads)
    assert(revisit.forall(_.content_length === Some(0L)))
    assert(revisit.forall(_.payload.isEmpty))
    // stored member of each group = lexicographically-first record id
    val canonOf = byPayload.map { case (p, rs) => p -> rs.map(_.record_id).min }
    assert(resp.map(_.record_id).toSet === canonOf.values.toSet)
    // byte level: every revisit's WARC-Refers-To names its group's stored
    // record and its digest matches the referred payload's md5
    val rawText = Files.list(Paths.get(out)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".warc.gz")) // skip Hadoop .crc sidecars
      .map { f =>
        val in = new java.util.zip.GZIPInputStream(Files.newInputStream(f))
        try new String(in.readAllBytes(), US_ASCII) finally in.close()
      }.mkString
    val payloadByCanon = canonOf.map { case (p, id) => id -> p }
    revisit.foreach { r =>
      val at = rawText.indexOf(s"WARC-Record-ID: ${r.record_id}")
      assert(at >= 0, s"${r.record_id} missing from raw bytes")
      val block = rawText.substring(at, rawText.indexOf("\r\n\r\n", at))
      val refersTo = "WARC-Refers-To: (\\S+)".r.findFirstMatchIn(block).get.group(1)
      val digest = "WARC-Payload-Digest: md5:([0-9a-f]+)".r.findFirstMatchIn(block).get.group(1)
      val referred = payloadByCanon(refersTo)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(referred.getBytes(US_ASCII)).map("%02x".format(_)).mkString
      assert(digest === md5hex, s"${r.record_id}: digest must name the referred payload")
    }
  }

  test("canonicalizeUrl erases case/default-port/fragment/tracking/param-order, keeps real ports") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://D1.EX.TEST:443/d/1?utm_source=news" -> "https://d1.ex.test/d/1",
      "https://d1.ex.test/d/1#frag" -> "https://d1.ex.test/d/1",
      "https://d0.ex.test/d/0?b=2&a=1" -> "https://d0.ex.test/d/0?a=1&b=2",
      "http://h.test:80/x" -> "http://h.test/x",
      "http://h.test:8080/x" -> "http://h.test:8080/x", // non-default port survives
      "https://h.test" -> "https://h.test/",            // empty path normalized
      "https://h.test/p?utm_source=a&utm_medium=b&fbclid=z&gclid=y" -> "https://h.test/p",
      "https://h.test/p?" -> "https://h.test/p"         // bare trailing ? dropped
    )
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), Url.canonicalizeUrl(col("u")).as("c")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (u, want) => assert(got(u) === want, u) }
    // unparseable -> null (drops out of URL-keyed groups)
    val bad = Seq("ht tp://??").toDF("u")
      .select(Url.canonicalizeUrl(col("u"))).collect().head
    assert(bad.isNullAt(0))
  }

  test("bp encoding classes: BOM bytes, byte-transparent latin-1, UTF-16LE body, late-meta padding") {
    def body(d: Long): String = {
      val r = Warc.bpResponseRecordString(d)
      r.substring(r.indexOf("\r\n\r\n", r.indexOf("HTTP/1.1")) + 4)
    }
    // d=10 (d%5==0): latin-1 body, é as single byte 0xE9, header declares it
    assert(Warc.bpResponseRecordString(10).contains("charset=ISO-8859-1"))
    assert(body(10).contains("wé"))
    // d=18 (d%15==3): UTF-8 BOM then UTF-8 bytes (é = C3 A9 as two chars)
    assert(body(18).take(3).map(_.toInt) === Seq(0xEF, 0xBB, 0xBF))
    assert(body(18).contains("wÃ©"))
    // d=23 (d%15==8): UTF-16LE BOM, NUL-interleaved ASCII markup
    assert(body(23).take(2).map(_.toInt) === Seq(0xFF, 0xFE))
    assert(body(23).slice(body(23).indexOf("<"), body(23).indexOf("<") + 6)
      .map(_.toInt) === Seq(0x3C, 0, 0x68, 0, 0x74, 0))
    // d=28 (d%15==13): declaration pushed past the 1024-byte prescan bound
    val b28 = body(28)
    assert(b28.indexOf("charset=ISO-8859-1") > 1024)
    // Content-Length matches the BYTE count for every class
    Seq(10L, 18L, 23L, 28L, 6L).foreach { d =>
      val r = Warc.bpResponseRecordString(d)
      val len = "Content-Length: (\\d+)".r.findFirstMatchIn(r).get.group(1).toInt
      val payloadStart = r.indexOf("\r\n\r\n") + 4
      assert(r.substring(payloadStart).stripSuffix("\r\n\r\n").length === len, s"d=$d")
    }
  }

  test("capPayloads + writeRecords round-trips the WARC-Truncated marker and the prefix bytes") {
    val src = tmp("warc_cap_src"); val out = tmp("warc_cap_out")
    synth(src, 24)
    val resp = Warc.responses(Warc.readRecords(spark, src))
    val full = resp.collect().map(r => r.record_id -> r.payload).toMap
    assert(Warc.writeRecords(Warc.capPayloads(resp, maxBytes = 64), out, nFiles = 2) === 24L)
    val back = Warc.readRecords(spark, out).collect()
      .filter(_.warc_type == "response")
    assert(back.length === 24)
    back.foreach { r =>
      val orig = full(r.record_id)
      if (orig.length > 64) {
        assert(r.truncated, r.record_id)
        assert(r.payload.toSeq === orig.take(64).toSeq, r.record_id)
        assert(r.content_length === Some(64L))
      } else {
        assert(!r.truncated, r.record_id)
        assert(r.payload.toSeq === orig.toSeq, r.record_id)
      }
    }
    // both classes are present (404s fit under the cap, 200s exceed it)
    assert(back.exists(_.truncated) && back.exists(!_.truncated))
  }

  test("fixture plants canonical-duplicate pairs: d=3k+1 and d=3k+2 collide, others are unique") {
    val dir = tmp("warc_dups")
    synth(dir, 30, nFiles = 2)
    val groups = Warc.responses(Warc.readRecords(spark, dir)).toDF()
      .select(Url.canonicalizeUrl(col("uri")).as("url"))
      .groupBy("url").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(groups.values.count(_ == 2L) === 10) // k=0..9: (1,2),(4,5),...,(28,29)
    assert(groups.values.forall(n => n == 1L || n == 2L))
    assert(groups.values.sum === 30L)
  }
}
