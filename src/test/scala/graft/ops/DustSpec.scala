package graft.ops

import graft.SparkSpec

/** [[Dust]] mechanics at unit scale (q411/q413 gate the corpus-scale
  * constructions): evidence classes, order-preserving stripping,
  * the functional-pair guard, and trap thresholds. */
class DustSpec extends SparkSpec {
  import spark.implicits._

  test("paramRules: support, violation, and no-evidence classes") {
    val crawl = Seq(
      // sess is noise: stripped spelling exists with the SAME hash
      ("http://a.example/p/1", "h1"),
      ("http://a.example/p/1?sess=9", "h1"),
      ("http://a.example/p/2", "h2"),
      ("http://a.example/p/2?sess=8", "h2"),
      // page is load-bearing: stripped spelling differs
      ("http://a.example/p/1?page=2", "h1v2"),
      // ref never strips to anything present: no evidence row at all
      ("http://a.example/q/3?ref=x", "h3")
    ).toDF("url", "hash")
    val got = Dust.paramRules(crawl, "url", "hash", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got(("a.example", "sess")) === ((2L, 2L, 0L, true)))
    assert(got(("a.example", "page")) === ((1L, 0L, 1L, false)))
    assert(!got.contains(("a.example", "ref")),
      "a param whose stripped spelling is never observed carries no " +
        "evidence either way")
  }

  test("paramRules: 2-param URLs strip one at a time, order kept") {
    val crawl = Seq(
      ("http://b.example/x?page=2&sess=1", "hv2"),
      ("http://b.example/x?page=2", "hv2"),   // strip sess -> support
      ("http://b.example/x?sess=1", "h"),     // strip page -> violation
      ("http://b.example/x", "h")
    ).toDF("url", "hash")
    val got = Dust.paramRules(crawl, "url", "hash", minSupport = 1)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // sess: 2-param strip (hv2 = hv2) + 1-param strip (h = h) support;
    // page: 2-param strip lands on ?sess=1 (hv2 vs h) violation, and
    // the 1-param ?page=2 strip lands on base (hv2 vs h) violation
    assert(got("sess") === ((2L, 0L, true)))
    assert(got("page") === ((0L, 2L, false)))
  }

  test("paramRules: one URL two hashes is rejected loudly") {
    val crawl = Seq(
      ("http://a.example/p?x=1", "h1"),
      ("http://a.example/p?x=1", "h2")
    ).toDF("url", "hash")
    val e = intercept[IllegalArgumentException] {
      Dust.paramRules(crawl, "url", "hash")
    }
    assert(e.getMessage.contains("functional"))
  }

  test("paramRules: fragments are stripped before mining") {
    val crawl = Seq(
      ("http://a.example/p?s=1#top", "h"),
      ("http://a.example/p?s=2", "h"),
      ("http://a.example/p#frag", "h")
    ).toDF("url", "hash")
    val got = Dust.paramRules(crawl, "url", "hash", minSupport = 2)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got("s") === ((2L, 2L)),
      "both spellings strip to the defragged base")
  }

  test("applyRules: safe params drop, order kept, ? vanishes when " +
    "nothing remains, other hosts untouched") {
    val rules = Seq(
      ("a.example", "sess", true),
      ("a.example", "page", false)
    ).toDF("host", "param", "safe")
    val frontier = Seq(
      "http://a.example/x?page=2&sess=1",   // partial strip
      "http://a.example/x?sess=9",          // full strip -> no '?'
      "http://a.example/x?page=2",          // unsafe param survives
      "http://a.example/x",                 // no query passes through
      "http://b.example/x?sess=1",          // no rule on this host
      "http://a.example/x?sess=2#frag"      // fragment stripped first
    ).toDF("url")
    val got = Dust.applyRules(frontier, "url", rules)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("http://a.example/x?page=2&sess=1") ===
      "http://a.example/x?page=2")
    assert(got("http://a.example/x?sess=9") === "http://a.example/x")
    assert(got("http://a.example/x?page=2") ===
      "http://a.example/x?page=2")
    assert(got("http://a.example/x") === "http://a.example/x")
    assert(got("http://b.example/x?sess=1") ===
      "http://b.example/x?sess=1")
    assert(got("http://a.example/x?sess=2#frag") ===
      "http://a.example/x")
  }

  test("applyRules: multi-param order is preserved around a dropped " +
    "middle param") {
    val rules = Seq(("a.example", "s", true)).toDF("host", "param", "safe")
    val frontier = Seq("http://a.example/x?b=2&s=1&a=9").toDF("url")
    val got = Dust.applyRules(frontier, "url", rules).collect().head
    assert(got.getString(1) === "http://a.example/x?b=2&a=9",
      "remaining params keep original relative order, never re-sorted")
  }

  test("applyRules: a URL listed twice comes back twice, params once " +
    "each") {
    val rules = Seq(("a.example", "sess", true)).toDF("host", "param", "safe")
    val dup = "http://a.example/x?page=2&sess=1"
    val frontier = Seq(dup, dup, "http://a.example/y").toDF("url")
    val got = Dust.applyRules(frontier, "url", rules)
      .collect().map(r => r.getString(0) -> r.getString(1)).sorted.toSeq
    assert(got === Seq(dup -> "http://a.example/x?page=2",
      dup -> "http://a.example/x?page=2",
      "http://a.example/y" -> "http://a.example/y"))
  }

  test("trapHosts: ratio + floor thresholds, depth and query stats") {
    val healthy = (1 to 60).map(i =>
      (s"http://ok.example/p/$i", s"h$i"))
    val trap = (1 to 60).map(i =>
      (s"http://cal.example/cal?d=$i", s"c${i % 3}"))
    val tiny = (1 to 5).map(i =>
      (s"http://tiny.example/t?d=$i", "same"))
    val got = Dust.trapHosts(
        (healthy ++ trap ++ tiny).toDF("url", "hash"),
        "url", "hash", minUrls = 50L, maxRatio = 10.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getInt(5), r.getDouble(6), r.getBoolean(7)))).toMap
    assert(got("ok.example") === ((60L, 60L, 1.0, 2.0, 2, 0.0, false)))
    assert(got("cal.example") === ((60L, 3L, 20.0, 1.0, 1, 1.0, true)))
    assert(got("tiny.example")._7 === false,
      "5 URLs from one body is below the minUrls mass floor")
  }
}
