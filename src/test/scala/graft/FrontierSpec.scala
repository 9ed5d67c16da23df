package graft

import org.apache.spark.sql.functions._

import graft.operators.{Frontier, Urls}

/** Crawl-frontier construction ([[graft.operators.Frontier]]): sitemap
  * `<loc>` extraction, SURT canonicalization + cross-listing dedup,
  * fetched-state anti-join, robots gating on the FOLDED host, and the
  * politeness layout.
  */
class FrontierSpec extends SparkSpecBase {

  import spark.implicits._

  test("sitemapLocs: file order, whitespace padding, case-insensitive tags, empty when none") {
    val xml = "<?xml version=\"1.0\"?>\n<urlset>\n" +
      "  <url><loc> https://a.test/1 </loc></url>\n" +
      "  <url><LOC>https://a.test/2</LOC></url>\n" +
      "  <url><loc>\nhttps://a.test/3\n</loc></url>\n</urlset>"
    val got = Seq(xml).toDF("x")
      .select(Frontier.sitemapLocs(col("x"))).head.getSeq[String](0)
    assert(got === Seq("https://a.test/1", "https://a.test/2", "https://a.test/3"))
    assert(Seq("<urlset/>").toDF("x")
      .select(Frontier.sitemapLocs(col("x"))).head.getSeq[String](0).isEmpty)
  }

  test("Urls.resolve: RFC 3986 reference forms against a page base URI") {
    val base = "https://s1.graft.test/a/b/page.html?x=1#top"
    val cases = Seq(
      // absolute http(s) pass through unchanged
      ("https://other.test/p", "https://other.test/p"),
      ("HTTP://other.test/p", "HTTP://other.test/p"),
      // non-http schemes are not crawlable
      ("mailto:x@y.test", ""),
      ("javascript:void(0)", ""),
      ("data:text/plain,hi", ""),
      ("ftp://f.test/x", ""),
      // protocol-relative takes the base scheme
      ("//cdn.test/img", "https://cdn.test/img"),
      // root-relative
      ("/doc/7", "https://s1.graft.test/doc/7"),
      // query-only replaces the base query, keeps the path
      ("?y=2", "https://s1.graft.test/a/b/page.html?y=2"),
      // relative merges against the base DIRECTORY (not the file)
      ("other.html", "https://s1.graft.test/a/b/other.html"),
      ("./other.html", "https://s1.graft.test/a/b/other.html"),
      ("../up.html", "https://s1.graft.test/a/up.html"),
      ("../../top.html", "https://s1.graft.test/top.html"),
      // dot-segment underflow clamps at the root (RFC 5.2.4)
      ("../../../over.html", "https://s1.graft.test/over.html"),
      ("a/./b/../c", "https://s1.graft.test/a/b/a/c"),
      // fragment-only and empty are the same document — dropped
      ("#sec", ""),
      ("", ""),
      // a ref's own fragment strips before resolution
      ("/doc/9#part", "https://s1.graft.test/doc/9"))
    val got = cases.map(_._1).toDF("ref")
      .select(col("ref"), Urls.resolve(lit(base), col("ref")).as("out"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (ref, want) =>
      assert(got(ref) === want, s"resolve('$ref')") }
    // unresolvable base (no scheme://) yields nothing
    assert(Seq("x").toDF("r")
      .select(Urls.resolve(lit("not-a-url"), lit("/p"))).head.getString(0)
      === "")
    // base with a bare authority (no path): relative merges at "/"
    assert(Seq("x").toDF("r")
      .select(Urls.resolve(lit("https://h.test"), lit("p.html")))
      .head.getString(0) === "https://h.test/p.html")
  }

  test("discoveredLinks: hrefs resolve against each page's own URI; junk drops; occurrences kept") {
    val pages = Seq(
      ("https://s0.graft.test/doc/4",
        "<html><body><a href=\"/doc/2\">a</a>" +
          "<a href=\"../doc/9\">b</a>" +
          "<a href=\"https://s3.graft.test/doc/7\">c</a>" +
          "<a href=\"mailto:x@y\">d</a><a href=\"#top\">e</a>" +
          "<a href=\"/doc/2\">dup</a></body></html>"),
      ("https://s1.graft.test/doc/5", "<html><body>no links</body></html>"))
      .toDF("url", "html")
    val got = Frontier.discoveredLinks(pages, "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted === Seq(
      ("https://s0.graft.test/doc/2", "https://s0.graft.test/doc/4"),
      ("https://s0.graft.test/doc/2", "https://s0.graft.test/doc/4"),
      ("https://s0.graft.test/doc/9", "https://s0.graft.test/doc/4"),
      ("https://s3.graft.test/doc/7", "https://s0.graft.test/doc/4")).sorted)
  }

  test("hostFromSurt inverts surt's host fold") {
    val got = Seq("https://WWW.Sub.Example.ORG:443/P/q?x=1#f")
      .toDF("u")
      .select(Urls.surt(col("u")).as("s"))
      .select(col("s"), Urls.hostFromSurt(col("s")))
      .head
    assert(got.getString(0) === "org,example,sub)/p/q?x=1")
    assert(got.getString(1) === "sub.example.org")
  }

  test("build: variant folding, cross-listing dedup, state anti-join, robots gate, schedule") {
    val seeds = Seq(
      "https://a.test/keep/1",
      "https://A.test:443/keep/1", // case+port variant: same SURT, dup
      "https://a.test/keep/2",
      "https://a.test/priv/3",     // robots-disallowed on a.test
      "https://b.test/hub",        // cross-listed twice (two sitemaps)
      "https://b.test/hub",
      "https://b.test/done",       // already fetched
      "https://B.TEST/done",       // variant of a FETCHED url: must drop too
      "not-a-url"                  // schemeless junk: never enters
    ).toDF("url")
    val fetched = Seq("test,b)/done").toDF("surt")
    val robots = Seq(
      ("a.test", "User-agent: graftbot\nDisallow: /priv/\nCrawl-delay: 2\n"))
      .toDF("host", "body")
    val out = Frontier.build(seeds, "url", fetched, "surt",
        robots, "host", "body", "graftbot/1.0")
      .orderBy("host", "slot")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq
    assert(out === Seq(
      // a.test: 2 keeps, slots spaced by the robots crawl-delay; the
      // kept raw url is the min spelling (the :443 variant's 'A' < 'a')
      ("test,a)/keep/1", "https://A.test:443/keep/1", "a.test", 2L, 0L, 0.0),
      ("test,a)/keep/2", "https://a.test/keep/2", "a.test", 1L, 1L, 2.0),
      // b.test: no robots row -> allowed, unspaced; hub deduped to one
      // row with its listing count; done (and its variant) anti-joined
      ("test,b)/hub", "https://b.test/hub", "b.test", 2L, 0L, 0.0)))
  }

  test("build plan: robots join broadcasts; three hash exchanges (dedup, state anti-join, host window)") {
    val seeds = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(concat(lit("https://s"), (col("doc_id") % 5).cast("string"),
        lit(".graft.test/p/"), col("doc_id").cast("string")).as("url"))
    val fetched = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 6 === 0)
      .select(graft.operators.Urls.surt(
        concat(lit("https://s"), (col("doc_id") % 5).cast("string"),
          lit(".graft.test/p/"), col("doc_id").cast("string"))).as("surt"))
    val robots = Seq(("s0.graft.test",
      "User-agent: graftbot\nDisallow: /x/\nCrawl-delay: 1\n"))
      .toDF("host", "body")
    val plan = Frontier.build(seeds, "url", fetched, "surt",
        robots, "host", "body", "graftbot/1.0")
      .queryExecution.executedPlan.toString
    assert("(?i)broadcast".r.findFirstIn(plan).isDefined,
      s"the host-cardinality robots table must broadcast:\n$plan")
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"dedup + state anti-join + host window = at most 3 hash exchanges, got $exchanges:\n$plan")
  }

  test("sitemapPageLocs/sitemapIndexLocs split by element; sitemapLocs stays flat") {
    val mixedIndex =
      "<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
        " <sitemap>\n  <loc> https://a.test/seg1.xml </loc>\n" +
        "  <lastmod>2026-01-01</lastmod>\n </sitemap>\n" +
        " <SITEMAP><LOC>https://a.test/seg2.xml</LOC></SITEMAP>\n" +
        "</sitemapindex>"
    val urlset =
      "<urlset>\n <url>\n  <loc>https://a.test/p1</loc>\n" +
        "  <priority>0.5</priority>\n </url>\n" +
        " <url><loc>\nhttps://a.test/p2\n</loc></url>\n</urlset>"
    val df = Seq((1, mixedIndex), (2, urlset)).toDF("id", "xml")
    val byId = df.select(col("id"),
        Frontier.sitemapPageLocs(col("xml")).as("p"),
        Frontier.sitemapIndexLocs(col("xml")).as("s"),
        Frontier.sitemapLocs(col("xml")).as("f"))
      .collect().map(r => r.getInt(0) ->
        ((r.getSeq[String](1).toSeq, r.getSeq[String](2).toSeq,
          r.getSeq[String](3).toSeq))).toMap
    assert(byId(1)._1 === Seq.empty, "index body lists no pages")
    assert(byId(1)._2 ===
      Seq("https://a.test/seg1.xml", "https://a.test/seg2.xml"))
    assert(byId(1)._3.size === 2, "flat form sees every loc")
    assert(byId(2)._1 === Seq("https://a.test/p1", "https://a.test/p2"))
    assert(byId(2)._2 === Seq.empty, "urlset body lists no sub-sitemaps")
  }

  test("sitemapPageEntries: loc + lastmod pairs; missing lastmod is null; unclosed/locless elements drop") {
    val xml = "<urlset>" +
      "<url><loc>https://a.test/1</loc><lastmod>2026-08-01</lastmod></url>" +
      "<url changefreq=\"daily\"><loc> https://a.test/2 </loc></url>" +
      "<url><lastmod>2026-08-02</lastmod></url>" + // locless: drops
      "<url><loc>https://a.test/4</loc>" +
      "<lastmod> 2026-08-03T10:00:00Z </lastmod></url>" +
      "</urlset>"
    val got = Seq(xml).toDF("x")
      .select(explode(Frontier.sitemapPageEntries(col("x"))).as("e"))
      .select(col("e.loc"), col("e.lastmod"))
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
    assert(got.toSeq === Seq(
      ("https://a.test/1", Some("2026-08-01")),
      ("https://a.test/2", None),
      ("https://a.test/4", Some("2026-08-03T10:00:00Z"))))
  }

  test("sitemap loc extractors tolerate attributes and comments (r17 advice); tag-name boundary holds") {
    // generator-style slop: attributes on <url>/<sitemap>/<loc>, an
    // XML comment between the tag and its loc — all XSD-order-valid
    val sloppyUrlset =
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        " <url changefreq=\"daily\">\n  <!-- gen 2026-08-16 -->\n" +
        "  <loc xml:space=\"preserve\">https://a.test/p1</loc>\n </url>\n" +
        " <url><loc>https://a.test/p2</loc></url>\n</urlset>"
    val sloppyIndex =
      "<sitemapindex>\n <sitemap data-x=\"1\"><!-- c1 --><!-- c2 -->" +
        "<loc>https://a.test/seg.xml</loc></sitemap>\n</sitemapindex>"
    val df = Seq((1, sloppyUrlset), (2, sloppyIndex)).toDF("id", "xml")
    val byId = df.select(col("id"),
        Frontier.sitemapPageLocs(col("xml")).as("p"),
        Frontier.sitemapIndexLocs(col("xml")).as("s"))
      .collect().map(r => r.getInt(0) ->
        ((r.getSeq[String](1).toSeq, r.getSeq[String](2).toSeq))).toMap
    assert(byId(1)._1 === Seq("https://a.test/p1", "https://a.test/p2"))
    // <urlset …> must NOT read as a <url> entry: its own first <url>'s
    // loc would then double-count; same for <sitemapindex> vs <sitemap>
    assert(byId(1)._1.size === 2, "urlset open tag is not a url entry")
    assert(byId(1)._2 === Seq.empty)
    assert(byId(2)._2 === Seq("https://a.test/seg.xml"))
    assert(byId(2)._1 === Seq.empty)
  }

  test("expandSitemaps: index layers, cycle fetched once, dead link skipped, depth cap") {
    // root index -> {segA (pages), loop (cycle back to root),
    //                deep1 -> {segB (pages), deep2 -> segC (pages)},
    //                ghost.xml (no body)}
    def idx(locs: String*): String =
      "<sitemapindex>" + locs.map(u =>
        s"<sitemap><loc>$u</loc></sitemap>").mkString + "</sitemapindex>"
    def pages(locs: String*): String =
      "<urlset>" + locs.map(u => s"<url><loc>$u</loc></url>").mkString +
        "</urlset>"
    val bodies = Seq(
      ("https://a.test/root.xml",
        idx("https://a.test/segA.xml", "https://a.test/loop.xml",
          "https://a.test/deep1.xml", "https://a.test/ghost.xml")),
      ("https://a.test/segA.xml", pages("https://a.test/p1", "https://a.test/p2")),
      ("https://a.test/loop.xml", idx("https://a.test/root.xml")),
      ("https://a.test/deep1.xml",
        idx("https://a.test/segB.xml", "https://a.test/deep2.xml")),
      ("https://a.test/segB.xml", pages("https://a.test/p3")),
      ("https://a.test/deep2.xml", idx("https://a.test/segC.xml")),
      ("https://a.test/segC.xml", pages("https://a.test/p4")))
      .toDF("sm_url", "xml")
    val roots = Seq("https://a.test/root.xml").toDF("url")
    def expand(d: Int): Seq[(String, Int)] =
      Frontier.expandSitemaps(roots, "url", bodies, "sm_url", "xml", d)
        .select("url", "depth").collect()
        .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    // maxDepth 2: segA/loop/deep1 fetch at depth 1, segB/deep2 at 2;
    // segC sits at depth 3 -> p4 must NOT appear; the root.xml cycle
    // via loop.xml is seen-anti-joined (no page appears twice)
    val d2 = expand(2)
    assert(d2 === Seq(("https://a.test/p1", 1), ("https://a.test/p2", 1),
      ("https://a.test/p3", 2)))
    // maxDepth 3 reaches segC
    assert(expand(3).map(_._1).contains("https://a.test/p4"))
    // maxDepth 0 fetches only the root (an index: zero pages)
    assert(expand(0) === Seq.empty)
    // URL-variant spelling of a root folds to the same sitemap
    val variantRoots = Seq("https://A.TEST:443/root.xml").toDF("url")
    assert(Frontier.expandSitemaps(variantRoots, "url", bodies,
      "sm_url", "xml", 2).count() === 3L)
  }

  test("expandSitemaps: driver-layer form ≡ forced-distributed, and it engages") {
    def idx(locs: String*): String =
      "<sitemapindex>" + locs.map(u =>
        s"<sitemap><loc>$u</loc></sitemap>").mkString + "</sitemapindex>"
    def pages(locs: String*): String =
      "<urlset>" + locs.map(u => s"<url><loc>$u</loc></url>").mkString +
        "</urlset>"
    val bodies = Seq(
      ("https://a.test/root.xml",
        idx("https://a.test/segA.xml", "https://a.test/loop.xml",
          "https://a.test/deep1.xml", "https://a.test/ghost.xml")),
      ("https://a.test/segA.xml",
        pages("https://a.test/p1", "https://a.test/p2")),
      ("https://a.test/loop.xml", idx("https://a.test/root.xml")),
      ("https://a.test/deep1.xml",
        idx("https://a.test/segB.xml", "https://a.test/deep2.xml")),
      ("https://a.test/segB.xml", pages("https://a.test/p3")),
      ("https://a.test/deep2.xml", idx("https://a.test/segC.xml")),
      ("https://a.test/segC.xml", pages("https://a.test/p4")))
      .toDF("sm_url", "xml")
    val roots = Seq("https://a.test/root.xml").toDF("url")
    def run(forceDistributed: Boolean, depth: Int): Seq[(String, String, Int)] = {
      val (out, counts) = withDriverResolve(on = !forceDistributed) {
        Frontier
          .expandSitemaps(roots, "url", bodies, "sm_url", "xml", depth)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
          .sorted.toSeq
      }
      if (forceDistributed) assert(counts.isEmpty)
      else assert(counts === Map(Frontier.DriverSite -> 1L),
        "the driver-layer form must engage")
      out
    }
    for (depth <- Seq(0, 2, 3, 5))
      assert(run(forceDistributed = false, depth)
        === run(forceDistributed = true, depth), s"divergence at depth $depth")
    // empty roots: both forms return a typed empty frame
    val none = Seq.empty[String].toDF("url")
    assert(Frontier.expandSitemaps(none, "url", bodies, "sm_url", "xml", 2)
      .count() === 0L)
  }
}
