package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** RFC 9309 edges for the robots evaluator (q371 gates the fixture
  * probes against the independent twin + urllib.robotparser; this
  * pins matcher corners and hostile input). */
class RobotsSpec extends AnyFunSuite {

  test("pattern matcher: wildcards, anchors, prefix semantics") {
    assert(Robots.patternMatches("/a/b", "/a/b/c"))     // prefix
    assert(!Robots.patternMatches("/a/b", "/a"))
    assert(Robots.patternMatches("/*.pdf$", "/x/y.pdf"))
    assert(!Robots.patternMatches("/*.pdf$", "/x/y.pdf.html"))
    assert(Robots.patternMatches("/*.pdf", "/x/y.pdf.html"))
    assert(Robots.patternMatches("/a**b", "/aXXb"))     // star collapse
    assert(Robots.patternMatches("/a*", "/a"))          // star eats empty
    assert(Robots.patternMatches("", "/anything"))      // empty = all
    assert(Robots.patternMatches("/$", "/"))
    assert(!Robots.patternMatches("/$", "/x"))
  }

  test("group selection: own group beats *, default-allow without any") {
    val g = Robots.parse(
      "User-agent: me\nDisallow: /a/\nUser-agent: *\nDisallow: /\n")
    assert(Robots.isAllowed(g, "ME", "/b"))      // own group, /b free
    assert(!Robots.isAllowed(g, "me", "/a/x"))
    assert(!Robots.isAllowed(g, "other", "/b"))  // * group: all denied
    assert(Robots.isAllowed(Map.empty, "x", "/anything"))
  }

  test("longest match wins; allow wins exact ties") {
    val g = Robots.parse(
      "User-agent: *\nDisallow: /p/\nAllow: /p/ok\n")
    assert(Robots.isAllowed(g, "x", "/p/ok/page"))
    assert(!Robots.isAllowed(g, "x", "/p/no"))
    val tie = Robots.parse(
      "User-agent: *\nDisallow: /t/a\nAllow: /t/a\n")
    assert(Robots.isAllowed(tie, "x", "/t/a"))
  }

  test("sitemapRecords: case-insensitive field, verbatim values, " +
    "comments and empties dropped, order preserved, parse() skips") {
    val txt = "SiteMap: https://h/a.xml\nUser-agent: *\nDisallow: /x/\n" +
      "  sitemap: https://h/b.xml.gz  # note\nSitemap:\n# Sitemap: no\n"
    assert(Robots.sitemapRecords(txt) ===
      Seq("https://h/a.xml", "https://h/b.xml.gz"))
    assert(Robots.sitemapRecords(null) === Seq.empty)
    assert(Robots.sitemapRecords("no records here") === Seq.empty)
    // the record is invisible to the evaluator (RFC "other record")
    val g = Robots.parse(txt)
    assert(!Robots.isAllowed(g, "any", "/x/1"))
    assert(Robots.isAllowed(g, "any", "/y"))
  }

  test("crawlDelay: own group beats *, fractional seconds, last " +
    "valid wins, invalid ignored") {
    val txt = "User-agent: graftbot\nCrawl-delay: 2\n" +
      "Crawl-delay: 3\n" + // later directive overrides
      "User-agent: *\nCrawl-delay: 9\n"
    assert(Robots.crawlDelay(txt, "GraftBot") === Some(3.0))
    assert(Robots.crawlDelay(txt, "other") === Some(9.0))
    assert(Robots.crawlDelay("User-agent: *\nCrawl-delay: 0.5\n",
      "x") === Some(0.5))
    assert(Robots.crawlDelay("User-agent: *\nCrawl-delay: soon\n",
      "x") === None, "invalid value is ignored, never a throw")
    assert(Robots.crawlDelay("User-agent: *\nCrawl-delay: -1\n",
      "x") === None)
    assert(Robots.crawlDelay("User-agent: *\nDisallow: /\n", "x")
      === None)
    assert(Robots.crawlDelay(null, "x") === None)
    // a selected group with only an invalid delay does NOT fall
    // through to * (selection is by agent match, not validity)
    val inv = "User-agent: graftbot\nCrawl-delay: junk\n" +
      "User-agent: *\nCrawl-delay: 4\n"
    assert(Robots.crawlDelay(inv, "graftbot") === None)
  }

  test("one group grammar: crawl-delay ends the agent list for both " +
    "the verdict and the delay") {
    val txt = "User-agent: a\nCrawl-delay: 1\nUser-agent: b\nDisallow: /\n"
    val g = Robots.parse(txt)
    assert(Robots.isAllowed(g, "a", "/x"), "a's group has no rules")
    assert(!Robots.isAllowed(g, "b", "/x"))
    assert(Robots.crawlDelay(txt, "a") === Some(1.0))
    assert(Robots.crawlDelay(txt, "b") === None)
    // sitemap and unknown records neither join nor end a group
    val g2 = Robots.parse(
      "User-agent: a\nSitemap: https://h/s.xml\nX-Unknown: v\n" +
        "User-agent: b\nDisallow: /p\n")
    assert(!Robots.isAllowed(g2, "a", "/p"))
    assert(!Robots.isAllowed(g2, "b", "/p"))
  }

  test("hostile input: garbage lines, no throw, rules outside groups") {
    val g = Robots.parse(
      "Disallow: /orphan/\n::::\n\u0000 junk\nUser-agent: *\n" +
        "Unknown-Field: v\nDisallow: /d/\n")
    assert(Robots.isAllowed(g, "x", "/orphan/x")) // orphan rule ignored
    assert(!Robots.isAllowed(g, "x", "/d/x"))
    assert(Robots.parse(null) === Map.empty)
  }
}
