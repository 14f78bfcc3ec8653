package graft

import org.apache.spark.sql.functions._

/** Guard-path contract of [[queries.WarcQueries.sitemapWalk]] — the query-level
  * equivalence proof (`warc_sitemap_walk` ≡ flat) pins the happy path;
  * these pin what happens on HOSTILE input: a cycle with no leaves must
  * terminate empty, an unknown sitemap URL must contribute nothing, and
  * the depth budget must cut a chain deeper than the budget instead of
  * walking it to the end.
  */
class SitemapWalkSpec extends SparkSpec {
  import spark.implicits._

  private def idx(locs: String*): String =
    "<sitemapindex>" +
      locs.map(l => s"<sitemap><loc>$l</loc></sitemap>").mkString +
      "</sitemapindex>"

  private def urlset(pages: String*): String =
    "<urlset>" +
      pages.map(p => s"<url><loc>$p</loc></url>").mkString +
      "</urlset>"

  test("a pure cycle (no leaves anywhere) terminates with zero seeds") {
    val fetched = Seq(
      ("h", "a.xml", idx("b.xml")),
      ("h", "b.xml", idx("a.xml"))).toDF("host", "sm_url", "xml")
    val roots = Seq(("h", "a.xml")).toDF("host", "sm_url")
    val out = queries.WarcQueries.sitemapWalk(fetched, roots, maxDepth = 10)
    assert(out.count() === 0L)
  }

  test("an unfetchable (missing) sitemap URL contributes nothing; known " +
      "branches still land") {
    val fetched = Seq(
      ("h", "a.xml", idx("missing.xml", "b.xml")),
      ("h", "b.xml", urlset("https://h/p1", "https://h/p2")))
      .toDF("host", "sm_url", "xml")
    val roots = Seq(("h", "a.xml")).toDF("host", "sm_url")
    val out = queries.WarcQueries.sitemapWalk(fetched, roots, maxDepth = 10)
    assert(out.select("loc").as[String].collect().sorted.toSeq
      === Seq("https://h/p1", "https://h/p2"))
  }

  test("the depth budget cuts a chain deeper than the budget; a larger " +
      "budget walks it to the end") {
    // c0.xml -> c1.xml -> c2.xml -> c3.xml(urlset) ; page at depth 3
    val fetched = Seq(
      ("h", "c0.xml", idx("c1.xml")),
      ("h", "c1.xml", idx("c2.xml")),
      ("h", "c2.xml", idx("c3.xml")),
      ("h", "c3.xml", urlset("https://h/deep")))
      .toDF("host", "sm_url", "xml")
    val roots = Seq(("h", "c0.xml")).toDF("host", "sm_url")
    val cut = queries.WarcQueries.sitemapWalk(fetched, roots, maxDepth = 3)
    assert(cut.count() === 0L, "budget 3 must stop before the urlset level")
    val full = queries.WarcQueries.sitemapWalk(fetched, roots, maxDepth = 4)
    assert(full.select("loc").as[String].collect().toSeq
      === Seq("https://h/deep"))
  }

  test("a self-looping root alongside a leaf: the visited guard kills the " +
      "loop, the leaf still lands, per host") {
    val fetched = Seq(
      ("h1", "r.xml", idx("r.xml", "l.xml")),
      ("h1", "l.xml", urlset("https://h1/p")),
      ("h2", "r.xml", idx("r.xml"))) // h2: cycle only
      .toDF("host", "sm_url", "xml")
    val roots = Seq(("h1", "r.xml"), ("h2", "r.xml")).toDF("host", "sm_url")
    val out = queries.WarcQueries.sitemapWalk(fetched, roots, maxDepth = 6)
      .select("host", "loc").as[(String, String)].collect().toSeq
    assert(out === Seq(("h1", "https://h1/p")))
  }
}
