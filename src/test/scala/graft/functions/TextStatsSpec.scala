package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenize: lowercase, strip non-letters, drop 1-char tokens (F23)") {
    val r = Seq("The QUICK-brown fox! 123 a").toDF("v")
      .select(TextStats.tokenize(col("v"))).as[Seq[String]].head()
    assert(r === Seq("the", "quick-brown", "fox"))
  }

  test("posFilterHeuristic: drops function words, -ly adverbs and verb " +
      "inflections; guards keep short lexical words (F23 analog)") {
    val stops = typedLit(Seq("the", "a"))
    val r = Seq("the running government quickly red bed ring painted dog")
      .toDF("v")
      .select(TextStats.posFilterHeuristic(TextStats.tokenize(col("v")), stops))
      .as[Seq[String]].head()
    // dropped: "the" (stopword), "running" (-ing, len 7), "quickly" (-ly),
    // "painted" (-ed, len 7); kept: "red"/"bed" (-ed but len 3) and
    // "ring" (-ing but len 4) via the length guards
    assert(r === Seq("government", "red", "bed", "ring", "dog"))
  }

  test("nounAdjStemmedTokens stems the filtered surface forms") {
    val stops = typedLit(Seq("the"))
    val r = Seq("the national connection running").toDF("v")
      .select(TextStats.nounAdjStemmedTokens(col("v"), stops))
      .as[Seq[String]].head()
    assert(r === Seq("nation", "connect")) // Porter stems; "running" filtered
  }

  test("tokenCount counts whitespace tokens") {
    val r = Seq("one two  three").toDF("v")
      .select(TextStats.tokenCount(col("v"))).as[Int].head()
    assert(r === 3)
  }

  test("stopwordRatio and qualityScore bounded in [0,1]") {
    val stops = typedLit(Seq("the", "a"))
    val r = Seq("the cat sat on a mat", "").toDF("v")
      .select(TextStats.stopwordRatio(col("v"), stops).as("s"),
        TextStats.qualityScore(col("v")).as("q"))
      .as[(Double, Double)].collect()
    assert(r(0)._1 === 2.0 / 6.0)
    r.foreach { case (s, q) => assert(s >= 0 && s <= 1 && q >= 0 && q <= 1) }
  }

  test("langIdRules: highest function-word hit count wins, order breaks ties, no hits → und") {
    val profiles = Seq("en" -> Seq("the"), "fr" -> Seq("le"))
    val r = Seq("the cat the dog le chat", "le chat le chien", "xyzzy")
      .toDF("v").select(TextStats.langIdRules(col("v"), profiles)).as[String].collect()
    assert(r.toSeq === Seq("en", "fr", "und"))
  }

  test("scrubPii: redacts emails, phones and IPv4s, leaves clean text alone") {
    val r = Seq(
      "mail bob.smith+x@corp.example.co.uk now",
      "call +44-123-4567 or 1-555-0100 today",
      "host 192.168.1.254 is up",
      "no pii here at all").toDF("v")
      .select(TextStats.scrubPii(col("v"))).as[String].collect()
    assert(r(0) === "mail <EMAIL> now")
    assert(r(1) === "call <PHONE> or <PHONE> today")
    assert(r(2) === "host <IP> is up")
    assert(r(3) === "no pii here at all")
  }

  test("repetitionScore: duplicate bigram fraction, 0 for short docs") {
    val r = Seq(
      "spark spark spark spark spark",  // 4 bigrams, 1 distinct → 0.75
      "one two three four five",        // all distinct → 0.0
      "word").toDF("v")                 // < 2 tokens → 0.0
      .select(TextStats.tokenize(col("v")).as("toks"))
      .select(TextStats.bigramsOf(col("toks")).as("bigrams"))
      .select(TextStats.repetitionFromBigrams(col("bigrams"))).as[Double].collect()
    assert(r.toSeq === Seq(0.75, 0.0, 0.0))
  }

  test("simhash: near-identical docs within small hamming distance, unrelated docs far") {
    def sig(texts: String*): Seq[Long] = {
      texts.toSeq.toDF("v")
        .select(TextStats.tokenHashes(col("v")).as("h"))
        .select(TextStats.simhashFromHashes(col("h"))).as[Long].collect().toSeq
    }
    val Seq(a, b, c) = sig(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumps over the lazy dog near the river edge",
      "completely different words about spark catalyst query optimization")
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(a, b) < hamming(a, c))
    assert(hamming(a, b) <= 16)
  }

  test("scrubPiiConsistent: same entity -> same surrogate, distinct " +
      "entities -> distinct surrogates, non-PII text untouched") {
    val rows = Seq(
      "mail a@ex.example then a@ex.example again from 10.0.0.1",
      "mail b@ex.example from 10.0.0.1",
      "no pii here").toDF("v")
      .select(TextStats.scrubPiiConsistent(col("v")).as("c"))
      .as[String].collect()
    val sur = "<EMAIL_[0-9a-f]{8}>".r
    val surs0 = sur.findAllIn(rows(0)).toSeq
    assert(surs0.size === 2 && surs0.distinct.size === 1) // same entity twice
    val aTok = surs0.head
    val bTok = sur.findAllIn(rows(1)).toSeq.head
    assert(aTok !== bTok) // distinct entities diverge
    // the shared ip maps identically ACROSS rows (cross-shard consistency)
    val ip = "<IP_[0-9a-f]{8}>".r
    assert(ip.findAllIn(rows(0)).toSeq.head === ip.findAllIn(rows(1)).toSeq.head)
    assert(rows(2) === "no pii here")
    assert(!rows(0).contains("a@ex.example") && !rows(0).contains("10.0.0.1"))
  }

  test("Mime.sniff + normalize: magic bytes beat the declared header") {
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // non-UTF-8 binary signatures — exactly the bytes a decoded-string
    // compare would mangle to U+FFFD (the bug this test pins fixed)
    val png = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      '\r'.toByte, '\n'.toByte)
    val gz = Array(0x1f.toByte, 0x8b.toByte, 0x08.toByte, 0x00.toByte)
    val zip = Array('P'.toByte, 'K'.toByte, 0x03.toByte, 0x04.toByte,
      'z'.toByte)
    val rows = Seq(
      (b("%PDF-1.4 x endobj"), "text/html"),
      (b("<html><body>hi</body></html>"), "application/octet-stream"),
      (b("  <!DOCTYPE HTML><html>"), "Text/HTML; charset=utf-8"),
      // WHATWG whitespace skip: tab/newline before the tag still sniffs
      (b("\n\t<html><body>x</body></html>"), "text/plain"),
      (b("GIF89a...."), "image/gif"),
      (b("plain words only"), "text/plain; charset=UTF-8"),
      (png, "image/png"),
      (zip, "application/zip"),
      (gz, "text/html"),
      (b("<?xml version=\"1.0\"?><feed/>"), "application/octet-stream"))
      .toDF("body_bytes", "ct")
      // the string leg exactly as httpParsed derives it: a cast, which
      // replaces invalid UTF-8 with U+FFFD — the binary tier must not care
      .select(Mime.sniff(col("body_bytes"),
        col("body_bytes").cast("string")).as("s"),
        Mime.normalize(col("ct")).as("n"))
      .as[(String, String)].collect()
    assert(rows.map(_._1).toSeq === Seq("application/pdf", "text/html",
      "text/html", "text/html", "image/gif", "text/plain", "image/png",
      "application/zip", "application/gzip", "text/xml"))
    assert(rows(0)._2 === "text/html" && rows(2)._2 === "text/html" &&
      rows(5)._2 === "text/plain")
  }
}
