package graft.ops

import graft.SparkSpec

/** [[Sitemap.frontier]] loop edges beyond the q379 gate fixture:
  * depth truncation, all-dangling seeds, and an unbroken cycle ring
  * (A→B→A with pages at each level) — shapes the committed tree
  * fixture doesn't plant. */
class SitemapSpec extends SparkSpec {

  private def urlset(locs: String*): Array[Byte] =
    ("<urlset>" + locs.map(l =>
      s"<url><loc>$l</loc></url>").mkString + "</urlset>")
      .getBytes("UTF-8")

  private def index(locs: String*): Array[Byte] =
    ("<sitemapindex>" + locs.map(l =>
      s"<sitemap><loc>$l</loc></sitemap>").mkString + "</sitemapindex>")
      .getBytes("UTF-8")

  test("frontier: a two-node index cycle terminates via the visited " +
    "set, each index parsed exactly once") {
    import spark.implicits._
    val blobs = Seq(
      ("https://x/a.xml", index("https://x/b.xml", "https://x/p1.xml")),
      ("https://x/b.xml", index("https://x/a.xml", "https://x/p2.xml")),
      ("https://x/p1.xml", urlset("https://x/page1")),
      ("https://x/p2.xml", urlset("https://x/page2"))
    ).toDF("u", "bin")
    val seeds = Seq("https://x/a.xml").toDF("s")
    val got = Sitemap.frontier(blobs, "u", "bin", seeds, "s")
      .select("loc", "depth").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    // a(0) -> {b, p1}(1): p1 emits page1; b -> {p2}(2) (a visited);
    // p2 emits page2 at depth 2
    assert(got === Set(("https://x/page1", 1), ("https://x/page2", 2)))
  }

  test("frontier: maxDepth truncates the walk; deeper pages drop") {
    import spark.implicits._
    val blobs = Seq(
      ("https://x/i0.xml", index("https://x/i1.xml")),
      ("https://x/i1.xml", index("https://x/u.xml")),
      ("https://x/u.xml", urlset("https://x/deep"))
    ).toDF("u", "bin")
    val seeds = Seq("https://x/i0.xml").toDF("s")
    val full = Sitemap.frontier(blobs, "u", "bin", seeds, "s")
    assert(full.count() === 1)
    val cut = Sitemap.frontier(blobs, "u", "bin", seeds, "s",
      maxDepth = 1)
    assert(cut.count() === 0)
  }

  test("frontier: dangling / null / empty seeds yield an empty, " +
    "well-typed result") {
    import spark.implicits._
    val blobs = Seq(("https://x/u.xml", urlset("https://x/p")))
      .toDF("u", "bin")
    val seeds = Seq(Some("https://x/never-fetched.xml"), None,
      Some("")).toDF("s")
    val got = Sitemap.frontier(blobs, "u", "bin", seeds, "s")
    assert(got.count() === 0)
    assert(got.columns.toSeq === Seq("sm_url", "depth", "entry_idx",
      "loc", "lastmod", "changefreq", "priority"))
  }
}
