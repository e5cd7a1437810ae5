package graft.ops

import graft.SparkSpec

/** [[CrawlSchedule]] mechanics at unit scale (q405/q406/q410 gate the
  * corpus-scale compositions): the dueSchedule feasibility recurrence
  * including the cascade, and per-host clock independence. */
class CrawlScheduleSpec extends SparkSpec {
  import spark.implicits._

  test("dueSchedule: the feasibility recurrence cascades — " +
    "fetch_at(k) = max(due(k), fetch_at(k-1) + delay)") {
    // one host, dues 0 / 1 / 2 / 100, delay 10: the recurrence gives
    // 0, 10, 20, 100 (two cascaded pushes, then a due-bound reset)
    val due = Seq(("h", "u0", 0L), ("h", "u1", 1L), ("h", "u2", 2L),
      ("h", "u3", 100L), ("g", "v0", 5L)).toDF("host", "url", "due")
    val got = CrawlSchedule.dueSchedule(due, "host", "url", "due",
        delayUs = 10L)
      .collect().map(r => r.getString(1) ->
        ((r.getInt(3), r.getLong(4)))).toMap
    assert(got("u0") === ((0, 0L)))
    assert(got("u1") === ((1, 10L)), "pushed by politeness")
    assert(got("u2") === ((2, 20L)), "cascaded push")
    assert(got("u3") === ((3, 100L)), "due-bound after the gap")
    assert(got("v0") === ((0, 5L)), "hosts run on their own clocks")
  }

  test("dueSchedulePerHost: each host cascades on ITS OWN delay; " +
    "null/zero delays reject loudly") {
    val due = Seq(
      ("h", "u0", 0L, 10L), ("h", "u1", 1L, 10L),
      ("g", "v0", 0L, 3L), ("g", "v1", 1L, 3L)
    ).toDF("host", "url", "due", "delay")
    val got = CrawlSchedule.dueSchedulePerHost(due, "host", "url",
        "due", "delay")
      .collect().map(r => r.getString(1) -> r.getLong(5)).toMap
    assert(got("u1") === 10L, "pushed by h's 10us delay")
    assert(got("v1") === 3L, "pushed by g's own 3us delay")
    val e = intercept[IllegalArgumentException] {
      CrawlSchedule.dueSchedulePerHost(
        Seq(("h", "u", 0L, 0L)).toDF("host", "url", "due", "delay"),
        "host", "url", "due", "delay")
    }
    assert(e.getMessage.contains("positive"))
  }

  test("dueSchedulePerHost: two delays on one host reject loudly") {
    val due = Seq(("h", "u0", 0L, 10L), ("h", "u1", 1L, 20L),
      ("g", "v0", 0L, 3L)).toDF("host", "url", "due", "delay")
    val e = intercept[IllegalArgumentException] {
      CrawlSchedule.dueSchedulePerHost(due, "host", "url", "due", "delay")
    }
    assert(e.getMessage.contains("one positive delay per host"))
  }

  test("sitemapStaleness: all four classes and the priority order") {
    val entries = Seq(
      ("u_never", Some(50L)), ("u_stale", Some(200L)),
      ("u_fresh_claim", Some(50L)), ("u_aged", None),
      ("u_young", None)
    ).toDF("url", "lastmod")
    val state = Seq(
      ("u_stale", 100L), ("u_fresh_claim", 100L),
      ("u_aged", 100L), ("u_young", 900L)
    ).toDF("url", "fetched")
    val got = CrawlSchedule.sitemapStaleness(entries, "url", "lastmod",
        state, "url", "fetched", asOfUs = 1000L, maxAgeUs = 500L)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2)))).toMap
    assert(got("u_never") === (("never_fetched", 0)))
    assert(got("u_stale") === (("stale", 1)))
    assert(got("u_aged") === (("aged", 2)),
      "no claim + copy older than maxAge at asOf")
    assert(got("u_fresh_claim") === (("fresh", 3)))
    assert(got("u_young") === (("fresh", 3)),
      "no claim but the copy is young")
  }

  test("adaptiveDelays: factor x median, clamped both ways, hostile " +
    "latencies drop") {
    val fetches = Seq(
      ("fast", 1000L), ("fast", 2000L), ("fast", 3000L),  // p50 2000
      ("slow", 400000L), ("slow", 500000L),               // p50 450000
      ("mid", 50000L), ("mid", 60000L), ("mid", 70000L),  // p50 60000
      ("mid", -5L)                                        // drops
    ).toDF("host", "latency_us")
    val got = CrawlSchedule.adaptiveDelays(fetches, "host",
        "latency_us", factor = 2.0, minDelayUs = 10000L,
        maxDelayUs = 200000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("fast") === 10000L, "2x2000 clamps up to the floor")
    assert(got("slow") === 200000L, "2x450000 clamps down to the cap")
    assert(got("mid") === 120000L,
      "2x median(50k,60k,70k) passes through; the -5 row dropped " +
        "(median over 4 rows would interpolate to 55000)")
  }

  test("changeRate: X detected from hashes; zero-change urls carry " +
    "lambda 0 and schedule nothing") {
    val hist = Seq(
      ("u", 0L, "h0"), ("u", 10L, "h0"), ("u", 20L, "h1"),
      ("w", 0L, "s"), ("w", 10L, "s"), ("w", 20L, "s")
    ).toDF("url", "ts", "hash")
    val got = CrawlSchedule.changeRate(hist, "url", "ts", "hash")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.isNullAt(4)))).toMap
    val lamU = BigDecimal(-math.log(1.5 / 2.5))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("u") === ((3L, 1L, Some(lamU), false)))
    assert(got("w") === ((3L, 0L, Some(0.0), true)),
      "never-changed url: lambda 0, null due")
  }
}
