package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sessionize / AsofJoin / RangeJoin: semantics on hand-built timelines
  * plus the plan shapes that make them scale (no real join in asof, no
  * cartesian in the range join). */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- sessionize

  test("sessionize splits on strict gap > threshold, per key") {
    // key a: gaps 10, 11 (split), 5; key b: single event
    val df = Seq(
      ("a", 100L, 1L), ("a", 110L, 2L), ("a", 121L, 3L), ("a", 126L, 4L),
      ("b", 500L, 5L)).toDF("k", "t", "id")
    val out = Sessionize.sessionize(df, "k", "t", gap = 10L, Seq("id"))
      .select("k", "t", "session_id").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      ("a", 100L, 1L), ("a", 110L, 1L), // gap == 10 is NOT > gap: same session
      ("a", 121L, 2L), ("a", 126L, 2L),
      ("b", 500L, 1L)))
  }

  test("sessionize is deterministic under timestamp ties via tieBreak") {
    val df = Seq(("a", 100L, 2L), ("a", 100L, 1L), ("a", 200L, 3L))
      .toDF("k", "t", "id")
    val out = Sessionize.sessionize(df, "k", "t", gap = 50L, Seq("id"))
      .select("id", "session_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("sessionStats rolls up count/bounds/duration/exact sum") {
    val df = Seq(
      ("a", 100L, 1L, 1.5), ("a", 105L, 2L, 2.5), ("a", 300L, 3L, 4.0))
      .toDF("k", "t", "id", "v")
    val out = Sessionize.sessionStats(df, "k", "t", gap = 50L, "v", Seq("id"))
      .orderBy("session_id")
      .select("session_id", "n_events", "t_start", "t_end", "duration",
        "sum_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 100L, 105L, 5L, 4.0),
      (2L, 1L, 300L, 300L, 0L, 4.0)))
  }

  // ---------------------------------------------------------------- asof join

  private lazy val trades = Seq(
    (1L, "x", 100L), (2L, "x", 200L), (3L, "x", 205L), (4L, "y", 50L))
    .toDF("trade_id", "sym", "t")
  private lazy val quotes = Seq(
    ("x", 90L, 10L, 1.0), ("x", 200L, 11L, 2.0), ("x", 210L, 12L, 3.0),
    ("z", 1L, 13L, 9.0))
    .toDF("q_sym", "q_t", "quote_id", "px")

  test("asof backward: greatest right time <= left time, inclusive") {
    val out = AsofJoin.asof(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id", "px"), rightTieBreak = Some("quote_id"))
      .orderBy("trade_id")
      .select("trade_id", "quote_id", "px")
      .as[(Long, Option[Long], Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, Some(10L), Some(1.0)),  // 90 <= 100
      (2L, Some(11L), Some(2.0)),  // equal time matches (inclusive)
      (3L, Some(11L), Some(2.0)),  // 210 is in the future
      (4L, None, None)))           // key y has no quotes
  }

  test("asof forward: least right time >= left time") {
    val out = AsofJoin.asof(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id"), rightTieBreak = Some("quote_id"),
      forward = true)
      .orderBy("trade_id")
      .select("trade_id", "quote_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      (1L, Some(11L)), (2L, Some(11L)), (3L, Some(12L)), (4L, None)))
  }

  test("asof tolerance nulls out stale matches") {
    val out = AsofJoin.asof(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id"), rightTieBreak = Some("quote_id"),
      tolerance = Some(5L))
      .orderBy("trade_id")
      .select("trade_id", "quote_id")
      .as[(Long, Option[Long])].collect().toSeq
    // trade1 lag 10 > 5 -> null; trade2 lag 0 ok; trade3 lag 5 ok (<=)
    assert(out == Seq((1L, None), (2L, Some(11L)), (3L, Some(11L)),
      (4L, None)))
  }

  test("asof right-time ties: greatest tiebreak wins, columns from ONE row") {
    val q2 = Seq(("x", 100L, 1L, 10.0), ("x", 100L, 2L, 20.0))
      .toDF("q_sym", "q_t", "quote_id", "px")
    val l = Seq((1L, "x", 150L)).toDF("trade_id", "sym", "t")
    val out = AsofJoin.asof(l, q2, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id", "px"), rightTieBreak = Some("quote_id"))
      .select("quote_id", "px").as[(Long, Double)].collect().toSeq
    assert(out == Seq((2L, 20.0)))
  }

  test("asof matched struct keeps genuine nulls without row mixing") {
    // newer quote has null px: the match must surface (12, null), not
    // graft px=2.0 from the older row (the per-column last() bug)
    val q2 = Seq(("x", 90L, 11L, Some(2.0)), ("x", 95L, 12L, None))
      .toDF("q_sym", "q_t", "quote_id", "px")
    val l = Seq((1L, "x", 100L)).toDF("trade_id", "sym", "t")
    val out = AsofJoin.asof(l, q2, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id", "px"), rightTieBreak = Some("quote_id"))
      .select("quote_id", "px").as[(Option[Long], Option[Double])]
      .collect().toSeq
    assert(out == Seq((Some(12L), None)))
  }

  test("asof null contract: null keys/times never match, both paths agree") {
    // which dispatch path runs depends only on column types, so the
    // null contract must be identical: window path (string key) and
    // exec path (long key) both give null-key/time rows NO match
    val lS = Seq((1L, Option("x"), Option(100L)), (2L, None, Option(100L)),
        (3L, Option("x"), None))
      .toDF("lid", "k", "t")
    val rS = Seq((Option("x"), Option(50L), 500L),
        (None, Option(60L), 501L), (Option("x"), None, 502L))
      .toDF("rk", "rt", "rid")
    val viaWindow = AsofJoin.asof(lS, rS, "k", "rk", "t", "rt",
        rightCols = Seq("rid"), rightTieBreak = Some("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(viaWindow == Map(1L -> Some(500L), 2L -> None, 3L -> None))
    val lL = Seq((1L, Option(7L), Option(100L)), (2L, None, Option(100L)),
        (3L, Option(7L), None))
      .toDF("lid", "k", "t")
    val rL = Seq((Option(7L), Option(50L), 500L),
        (None, Option(60L), 501L), (Option(7L), None, 502L))
      .toDF("rk", "rt", "rid")
    val viaExec = AsofJoin.asof(lL, rL, "k", "rk", "t", "rt",
        rightCols = Seq("rid"), rightTieBreak = Some("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(viaExec == viaWindow)
    // forward direction: a null left time must not "see" the timeline
    val fwdWindow = AsofJoin.asof(lS, rS, "k", "rk", "t", "rt",
        rightCols = Seq("rid"), rightTieBreak = Some("rid"), forward = true)
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(fwdWindow(3L).isEmpty && fwdWindow(2L).isEmpty)
  }

  test("asof plan: no join operator, one shuffle") {
    val out = AsofJoin.asof(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightCols = Seq("quote_id"), rightTieBreak = Some("quote_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof must not plan a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  // ---------------------------------------------------------------- range join

  test("pointInInterval == naive theta join, inclusive bounds") {
    val pts = (0L to 200L by 7).map(t => (t, s"p$t")).toDF("pt", "tag")
    val ivs = Seq((1L, 0L, 10L), (2L, 10L, 30L), (3L, 147L, 147L),
      (4L, 300L, 400L)).toDF("iv_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "pt", ivs, "lo", "hi", 16L)
      .select("iv_id", "pt").as[(Long, Long)].collect().toSet
    val want = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("iv_id", "pt").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(want.contains((3L, 147L))) // degenerate [147,147] still matches
    assert(!want.exists(_._1 == 4L))  // empty interval drops out
  }

  test("pointInInterval exact binning for values beyond 2^53") {
    // epoch-nanos-scale values: double math would mis-bin these
    val base = 1704067200000000000L // 2024-01-01 in ns
    val pts = Seq((base + 1L, "a"), (base + 999L, "b")).toDF("pt", "tag")
    val ivs = Seq((1L, base, base + 500L)).toDF("iv_id", "lo", "hi")
    val got = RangeJoin
      .pointInInterval(pts, "pt", ivs, "lo", "hi", 1000L)
      .select("tag").as[String].collect().toSet
    assert(got == Set("a"))
  }

  test("pointInInterval plan: equi-join on bin, no nested-loop/cartesian") {
    val pts = (0L to 200L).map(t => (t, t)).toDF("pt", "x")
    val ivs = (0L to 50L).map(i => (i, i * 4, i * 4 + 6)).toDF("iv", "lo", "hi")
    val plan = RangeJoin.pointInInterval(pts, "pt", ivs, "lo", "hi", 8L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to nested loop:\n$plan")
  }

  // ---------------------------------------------------------------- rolling

  test("trailingStats: inclusive range frame, per key, exact sums") {
    val df = Seq(
      ("a", 100L, 1.0), ("a", 150L, 2.0), ("a", 200L, 4.0),
      ("a", 301L, 8.0), // 301 - 100 > 200: first row leaves the frame
      ("b", 100L, 16.0))
      .toDF("k", "t", "v")
    val out = Rolling.trailingStats(df, "k", "t", span = 200L, "v")
      .select("k", "t", "n_trail", "sum_trail")
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out(("a", 100L)) == ((1L, 1.0)))
    assert(out(("a", 150L)) == ((2L, 3.0)))
    assert(out(("a", 200L)) == ((3L, 7.0)))  // 100 is included: 200-100 <= 200
    assert(out(("a", 301L)) == ((3L, 14.0))) // 100 aged out
    assert(out(("b", 100L)) == ((1L, 16.0))) // keys are independent
  }

  test("trailingStats: equal timestamps share one frame") {
    val df = Seq(("a", 10L, 1.0), ("a", 10L, 2.0)).toDF("k", "t", "v")
    val out = Rolling.trailingStats(df, "k", "t", span = 5L, "v")
      .select("n_trail", "sum_trail").as[(Long, Double)].collect().toSet
    assert(out == Set((2L, 3.0))) // both rows see both (RANGE, not ROWS)
  }

  test("rollingMedian: odd/even frames, null exclusion, tie order") {
    val df = Seq(
      ("a", 1L, 0L, Some(5.0)), ("a", 2L, 1L, Some(1.0)),
      ("a", 3L, 2L, None: Option[Double]), ("a", 4L, 3L, Some(9.0)),
      ("a", 5L, 4L, Some(3.0)),
      ("b", 1L, 5L, None: Option[Double])) // all-null frame
      .toDF("k", "t", "id", "v")
    val out = Rolling.rollingMedian(df, "k", "t", "id", "v", frameRows = 3)
      .select("id", "n_frame", "median")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    assert(out(0L) == ((1L, 5.0)))
    assert(out(1L) == ((2L, 3.0)))  // even: (1+5)/2
    assert(out(2L) == ((2L, 3.0)))  // null dropped; frame {5,1}
    assert(out(3L) == ((2L, 5.0)))  // frame {1,null,9} -> (1+9)/2
    assert(out(4L) == ((2L, 6.0)))  // frame {null,9,3} -> (3+9)/2
    assert(out(5L)._1 == 0L && out(5L)._2.isNaN) // all-null -> null
    // within-timestamp tie order comes from tieCol: two rows at t=9
    val tie = Seq(("c", 9L, 0L, Some(10.0)), ("c", 9L, 1L, Some(20.0)))
      .toDF("k", "t", "id", "v")
    val got = Rolling.rollingMedian(tie, "k", "t", "id", "v", 2)
      .select("id", "median").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) == 10.0 && got(1L) == 15.0)
    intercept[IllegalArgumentException] {
      Rolling.rollingMedian(df, "k", "t", "id", "v", 0)
    }
  }

  // ------------------------------------------------- randomized differential

  test("rollingMedian == in-memory per-row reference on random data") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (s"k${rnd.nextInt(4)}", rnd.nextInt(40).toLong, i.toLong,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100) / 7.0))
    }
    val df = rows.toDF("k", "t", "id", "v")
    for (frame <- Seq(1, 5, 12)) {
      val got = Rolling.rollingMedian(df, "k", "t", "id", "v", frame)
        .select("id", "n_frame", "median")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val byKey = rows.groupBy(_._1).view.mapValues(
        _.sortBy(r => (r._2, r._3)))
      for ((_, seq) <- byKey; (row, idx) <- seq.zipWithIndex) {
        val vals = seq.slice(math.max(0, idx - frame + 1), idx + 1)
          .flatMap(_._4).sorted
        val exp =
          if (vals.isEmpty) None
          else if (vals.size % 2 == 1) Some(vals(vals.size / 2))
          else Some((vals(vals.size / 2 - 1) + vals(vals.size / 2)) / 2.0)
        assert(got(row._3) == ((vals.size.toLong, exp)),
          s"frame=$frame id=${row._3}")
      }
    }
  }

  test("asof backward/forward == naive per-row reference on random data") {
    val rnd = new scala.util.Random(42)
    val keys = Seq("a", "b", "c")
    val lrows = (0 until 120).map(i =>
      (i.toLong, keys(rnd.nextInt(3)), rnd.nextInt(50).toLong))
    val rrows = (0 until 80).map(i =>
      (1000L + i, keys(rnd.nextInt(3)), rnd.nextInt(50).toLong,
        rnd.nextDouble()))
    val l = lrows.toDF("lid", "k", "t")
    val r = rrows.toDF("rid", "rk", "rt", "rv")

    for (fwd <- Seq(false, true)) {
      val got = AsofJoin.asof(l, r, "k", "rk", "t", "rt",
        rightCols = Seq("rid", "rv"), rightTieBreak = Some("rid"),
        forward = fwd)
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      val want = lrows.map { case (lid, k, t) =>
        val cand = rrows.filter(rr => rr._2 == k &&
          (if (fwd) rr._3 >= t else rr._3 <= t))
        // documented tie semantics: greatest tiebreak wins backward,
        // least wins forward
        val best =
          if (cand.isEmpty) None
          else if (fwd) Some(cand.minBy(rr => (rr._3, rr._1))._1)
          else Some(cand.maxBy(rr => (rr._3, rr._1))._1)
        lid -> best
      }.toMap
      assert(got == want, s"forward=$fwd")
    }
  }

  test("funnel == naive sequential first-match on random data") {
    val rnd = new scala.util.Random(7)
    val types = Seq("A", "B", "C", "X")
    val rows = (0 until 400).map { i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(100).toLong,
        types(rnd.nextInt(4)), i)
    }
    // make (key, time, type) unique so semantics are unambiguous
    val uniq = rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toSeq
    val got = Funnel.funnel(uniq.toDF("k", "t", "typ", "i"), "k", "t",
      "typ", Seq("A", "B", "C"))
      .select("k", "t1", "t2", "t3")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = uniq.groupBy(_._1).map { case (k, rs) =>
      // equal-time ordering: earlier step sorts first => inclusive >=
      val t1 = rs.filter(_._3 == "A").map(_._2).minOption
      val t2 = t1.flatMap(a =>
        rs.filter(r => r._3 == "B" && r._2 >= a).map(_._2).minOption)
      val t3 = t2.flatMap(b =>
        rs.filter(r => r._3 == "C" && r._2 >= b).map(_._2).minOption)
      k -> ((t1, t2, t3))
    }
    assert(got == want)
  }

  test("pointInInterval == naive theta join on random data, many widths") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 200).map(i => (i.toLong, rnd.nextInt(1000).toLong))
      .toDF("pid", "pt")
    val ivs = (0 until 60).map { i =>
      val lo = rnd.nextInt(1000).toLong
      (100L + i, lo, lo + rnd.nextInt(120).toLong)
    }.toDF("iid", "lo", "hi")
    val want = pts.join(ivs, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    for (width <- Seq(1L, 7L, 64L, 1000L, 5000L)) {
      val got = RangeJoin.pointInInterval(pts, "pt", ivs, "lo", "hi", width)
        .select("iid", "pid").as[(Long, Long)].collect().toSet
      assert(got == want, s"width=$width")
    }
  }

  test("rejects clashing column names and bad widths") {
    val a = Seq((1L, 2L)).toDF("t", "x")
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(a, "t", a, "t", "x", 10L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(a, "t", Seq((1L, 2L)).toDF("lo", "hi"),
        "lo", "hi", 0L)
    }
    intercept[IllegalArgumentException] {
      AsofJoin.asof(a, a, "t", "t", "x", "x", rightCols = Seq("x"))
    }
  }
  test("cohortRetention: first-period cohorts, exact integer bucketing") {
    // period 10: u1 active periods 0,1,2; u2 periods 1,1 (dedup), u3 period 2
    val ev = Seq((1L, 3L), (1L, 12L), (1L, 25L), (2L, 11L), (2L, 19L),
      (3L, 21L)).toDF("u", "t")
    val got = graft.ops.Retention.cohortRetention(ev, "u", "t", 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 1L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (2L, 0L) -> 1L))
    // boundary: t=10 lands in period 1, not 0 (exact div, no float)
    val b = graft.ops.Retention.cohortRetention(
      Seq((1L, 10L)).toDF("u", "t"), "u", "t", 10L).head()
    assert(b.getLong(0) == 1L && b.getLong(1) == 0L)
    // pre-epoch times floor (not truncate toward zero): -5 -> period -1,
    // +5 -> period 0 — two DISTINCT periods, offset 1
    val neg = graft.ops.Retention.cohortRetention(
      Seq((1L, -5L), (1L, 5L)).toDF("u", "t"), "u", "t", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(neg == Map((-1L, 0L) -> 1L, (-1L, 1L) -> 1L))
  }
  test("countChangepoint: level shift located at the step") {
    // periods 0-4 one event each, periods 5-9 three each: the cumsum
    // of deviations (mean 2) troughs at period 4 with |S| = 5
    val times = (0 to 4).map(_.toLong * 10) ++
      (5 to 9).flatMap(p => Seq.fill(3)(p.toLong * 10))
    val r = graft.ops.Timeseries.countChangepoint(
      times.toDF("t"), "t", 10L).head()
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 5.0)
    assert(r.getDouble(2) == 2.0 && r.getLong(3) == 10L)
  }

  test("twap: holding-time weights, single-obs null, plain-mean contrast") {
    // values 10 (held 2), 20 (held 1), 30 (held 0): twap = 40/3
    val df = Seq((1L, 0L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0),
      (2L, 5L, 99.0)).toDF("u", "t", "v")
    val got = graft.ops.Timeseries.twap(df, "u", "t", "v")
      .orderBy("u").collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 3 && r1.getLong(2) == 3L)
    assert(r1.getDouble(3) == BigDecimal(40.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(1).isNullAt(3)) // single observation: zero span
  }

  test("linearAttribution: equal journey split, empty journeys to (none)") {
    // user 1: a,b -> conv (a .5, b .5); then c -> conv (c 1.0)
    // user 2: conv with no touches -> (none) 1.0
    // user 3: touches, never converts -> no credit
    val df = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "conv"),
      (1L, 4L, "c"), (1L, 5L, "conv"),
      (2L, 6L, "conv"),
      (3L, 7L, "a"), (3L, 8L, "b")
    ).map { case (u, t, ty) => (u, t, t, ty) }.toDF("u", "t", "eid", "ty")
    val got = graft.ops.Funnel.linearAttribution(
        df, "u", "t", "eid", "ty", "conv")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("(none)" -> 1.0, "a" -> 0.5, "b" -> 0.5,
      "c" -> 1.0))
  }

  test("interarrivalStats: gaps per key, exact mean/percentiles/cv") {
    // user 1 at t = 0,10,20,40 -> gaps 10,10,20; user 2 at 0,5 -> gap 5
    val df = Seq((1L, 0L), (1L, 10L), (1L, 20L), (1L, 40L),
      (2L, 0L), (2L, 5L)).toDF("u", "t")
    val r = graft.ops.Timeseries.interarrivalStats(df, "u", "t").head()
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 11.25) // (10+10+20+5)/4
    assert(r.getDouble(2) == 10.0)  // median of 5,10,10,20
    // p90 of [5,10,10,20]: rank 0.9*3 = 2.7 -> 10 + 0.7*(20-10) = 17
    assert(r.getDouble(3) == 17.0)
    val mean = 11.25
    val varS = (Seq(10.0, 10.0, 20.0, 5.0).map(g => (g - mean) * (g - mean))
      .sum) / 3.0
    assert(r.getDouble(4) == BigDecimal(math.sqrt(varS) / mean)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("crossCountCorr: shifted copy peaks at the shift lag") {
    import org.apache.spark.sql.functions.col
    // A fires at periods 0,2,4; B at 2,4,6 (A shifted +2)
    val rows = (Seq(0L, 2L, 4L).map(p => (p * 10L, "a")) ++
      Seq(2L, 4L, 6L).map(p => (p * 10L, "b"))).toDF("t", "k")
    val got = graft.ops.Timeseries.crossCountCorr(
        rows, "t", 10L, col("k") === "a", col("k") === "b",
        Seq(0, 2))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some(r.getDouble(2)))).toMap
    // at lag 2 the overlap [0..4] aligns perfectly: corr = 1.0
    assert(got(2L) == Some(1.0))
    assert(got(0L).get < 1.0)
    // degenerate: B constant over the overlap -> null
    val const = (Seq(0L, 1L, 2L).map(p => (p * 10L, "a")) ++
      Seq(0L, 1L, 2L).map(p => (p * 10L, "b"))).toDF("t", "k")
    val c = graft.ops.Timeseries.crossCountCorr(
      const, "t", 10L, col("k") === "a", col("k") === "b", Seq(1))
      .head()
    assert(c.isNullAt(2))
  }

  test("topPaths: counts consecutive runs, never crosses sessions") {
    // user 1: a,b,c,a,b,c within one session -> "a>b>c" x2 plus bridges
    val gap = 100L
    val e1 = Seq("a", "b", "c", "a", "b", "c").zipWithIndex.map {
      case (t, i) => (1L, i.toLong, t, i.toLong * 10) }
    // user 2: a,b then a SESSION BREAK then c — no a>b>c path
    val e2 = Seq((2L, 10L, "a", 0L), (2L, 11L, "b", 10L),
      (2L, 12L, "c", 500L))
    val df = (e1 ++ e2).toDF("u", "eid", "et", "t")
    val got = graft.ops.Sessionize.topPaths(
        df, "u", "t", "et", gap, 3, 10, tieBreak = Seq("eid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("a > b > c") == 2L)
    assert(got.get("b > c > a").contains(1L))
    assert(!got.keys.exists(_.contains("b > c > c")))
    // user 2 contributed nothing (its triple spans the break)
    assert(got.values.sum == 4L) // abc, bca, cab, abc
  }

  test("kaplanMeier: hand-computed curve, censoring, exhausted risk set") {
    val rows = Seq((1L, true), (1L, true), (2L, false), (3L, true),
      (3L, false), (5L, true)).toDF("dur", "obs")
    val got = graft.ops.Retention.kaplanMeier(rows, "dur", "obs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // S(1) = 4/6, S(3) = 4/6 * 2/3, S(5): d = n_risk -> exact 0
    assert(got.toSeq == Seq((1L, 6L, 2L, 0.666667),
      (3L, 3L, 1L, 0.444444), (5L, 1L, 1L, 0.0)))
    // all censored: no death times, empty curve
    assert(graft.ops.Retention.kaplanMeier(
      Seq((1L, false), (2L, false)).toDF("dur", "obs"), "dur", "obs")
      .count() == 0)
  }

  test("nelsonAalen: hand-computed cumulative hazard on the KM fixture") {
    val rows = Seq((1L, true), (1L, true), (2L, false), (3L, true),
      (3L, false), (5L, true)).toDF("dur", "obs")
    val got = graft.ops.Retention.nelsonAalen(rows, "dur", "obs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // H(1) = 2/6, H(3) = 2/6 + 1/3, H(5) = + 1/1 (d = n_risk is fine
    // here — the hazard has no ln(0) singularity)
    assert(got.toSeq == Seq((1L, 6L, 2L, 0.333333),
      (3L, 3L, 1L, 0.666667), (5L, 1L, 1L, 1.666667)))
  }

  test("survival ops: unbounded duration grids fail loudly (maxGrid)") {
    // 4 distinct durations vs maxGrid = 3: every survival op must
    // refuse to funnel the grid into its single-task window
    val rows = Seq((1L, true), (2L, true), (3L, true), (4L, true))
      .toDF("dur", "obs")
    val exKm = intercept[IllegalArgumentException](
      graft.ops.Retention.kaplanMeier(rows, "dur", "obs", maxGrid = 3))
    assert(exKm.getMessage.contains("maxGrid"))
    val exNa = intercept[IllegalArgumentException](
      graft.ops.Retention.nelsonAalen(rows, "dur", "obs", maxGrid = 3))
    assert(exNa.getMessage.contains("maxGrid"))
    val exLr = intercept[IllegalArgumentException](
      graft.ops.Retention.logRank(rows, "dur", "obs",
        col("dur") <= 2, maxGrid = 3))
    assert(exLr.getMessage.contains("maxGrid"))
    val withX = rows.withColumn("x", col("dur").cast("double"))
    val exCox = intercept[IllegalArgumentException](
      graft.ops.Retention.coxPh(withX, "dur", "obs", "x", maxGrid = 3)
        .collect())
    assert(exCox.getMessage.contains("maxGrid"))
    // at the boundary (grid size == maxGrid) everything still runs
    assert(graft.ops.Retention.kaplanMeier(
      rows, "dur", "obs", maxGrid = 4).count() == 4)
  }

  test("stateAsOf: picks each key's active run at T, skips late keys") {
    val ev = Seq(
      ("u1", 1L, 1L, "a"), ("u1", 5L, 2L, "b"), ("u1", 9L, 3L, "c"),
      ("u2", 8L, 4L, "x"), // timeline starts after T = 6
      ("u3", 2L, 5L, "y")) // open run active at T
      .toDF("k", "t", "id", "st")
    val got = graft.ops.Delta.stateAsOf(ev, "k", "t", "st",
        tieBreak = Seq("id"), at = 6L)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got == Map(
      "u1" -> (("b", 5L, 1L)), // run [5, 9) covers T = 6
      "u3" -> (("y", 2L, 1L)))) // open run
  }

  test("ewmaChart: hand-computed trailing forecast, gap=0, spike flag") {
    // key "a": 3 events at t=0, none at t=1 (gap), 6 at t=2; period 1
    val df = (Seq.fill(3)(("a", 0L)) ++ Seq.fill(6)(("a", 2L)))
      .toDF("k", "tt")
    val got = Timeseries.ewmaChart(df, "k", "tt", period = 1L,
        alpha = 0.5, window = 2, threshold = 3.0)
      .collect().map(r => r.getLong(1) -> r).toMap
    // t=0: no history
    assert(got(0L).getLong(2) == 3 && got(0L).isNullAt(3) &&
      got(0L).isNullAt(4) && got(0L).isNullAt(5))
    // t=1: ewma = (0.5*3)/0.5 = 3, cnt 0, dev -3, |−3| < 3·√3 -> calm
    assert(got(1L).getLong(2) == 0 && got(1L).getDouble(3) == 3.0 &&
      got(1L).getDouble(4) == -3.0 && !got(1L).getBoolean(5))
    // t=2: ewma = (0.5*0 + 0.25*3)/0.75 = 1, dev 5, 5 > 3·√1 -> spike
    assert(got(2L).getLong(2) == 6 && got(2L).getDouble(3) == 1.0 &&
      got(2L).getDouble(4) == 5.0 && got(2L).getBoolean(5))
  }

  test("mannKendall: hand-computed S/varS/z/sen on a known series") {
    // key "up": strictly increasing 1..5 at t=0..4 -> S = 10 (all +1),
    // no ties: varS = 5*4*15/18. sen = median slope = 1.0.
    // key "tied": [2,2,2] -> S = 0, tie term 3*2*11 = 66,
    // varS = (3*2*11 - 66)/18 = 0 -> z null, sen 0.
    val df = ((0 to 4).map(i => ("up", i.toLong, (i + 1).toDouble)) ++
      Seq(("tied", 0L, 2.0), ("tied", 1L, 2.0), ("tied", 2L, 2.0)) ++
      Seq(("lone", 7L, 3.0)))
      .toDF("k", "t", "v")
    val got = Timeseries.mannKendall(df, "k", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val up = got("up")
    assert(up.getLong(1) == 5 && up.getLong(2) == 10)
    val varS = 5.0 * 4 * 15 / 18
    assert(up.getDouble(3) == math.rint(varS * 1e6) / 1e6)
    assert(up.getDouble(4) ==
      BigDecimal(9.0 / math.sqrt(varS))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(up.getDouble(5) == 1.0)
    val tied = got("tied")
    assert(tied.getLong(2) == 0 && tied.getDouble(3) == 0.0)
    assert(tied.isNullAt(4) && tied.getDouble(5) == 0.0)
    // single observation: no pairs -> s=0, null z and sen
    val lone = got("lone")
    assert(lone.getLong(1) == 1 && lone.getLong(2) == 0)
    assert(lone.isNullAt(4) && lone.isNullAt(5))
  }

  test("countAcf: perfect periodicity 1.0, gaps zero-filled, constant null") {
    // periods 0..11 alternate 2,0,2,0... events only in even periods:
    // lag 2 is a perfect match (acf 1), lag 1 perfectly anti-phase
    val ev = (0 until 12 by 2).flatMap(p => Seq(p * 10L, p * 10L + 1))
      .toDF("t")
    val got = graft.ops.Timeseries.countAcf(ev, "t", 10L, Seq(1, 2))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    // dense series 0..10 (last event period 10): [2,0,2,0,2,0,2,0,2,0,2]
    assert(got(1L)._1 == 10 && got(2L)._1 == 9)
    assert(got(2L)._2.contains(1.0))
    assert(got(1L)._2.exists(_ < -0.9))
    // constant series -> zero variance -> null acf
    val const = Seq(5L, 15L, 25L, 35L).toDF("t")
    val c = graft.ops.Timeseries.countAcf(const, "t", 10L, Seq(1)).head()
    assert(c.isNullAt(2))
    // a corrupt far-future timestamp fails loudly instead of exploding
    // the dense axis
    intercept[IllegalArgumentException] {
      graft.ops.Timeseries.countAcf(
        Seq(0L, Long.MaxValue / 2).toDF("t"), "t", 10L, Seq(1))
    }
  }

  // ------------------------------------------------------ seasonalProfile

  test("seasonalProfile: 168 dense buckets, integer calendar, pre-epoch") {
    val HourUs = 3600L * 1000 * 1000
    // three events Thu 00h (epoch 0 was a Thursday), one Wed 23h 1969
    val df = Seq(0L, 1000L, HourUs - 1, -HourUs).toDF("t")
    val out = graft.ops.Timeseries.seasonalProfile(df, "t")
    val rows = out.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getBoolean(6))).toMap
    assert(rows.size == 168) // every (isodow, hour) emitted, zeros included
    assert(rows((4, 0))._1 == 3L) // 1970-01-01 00:xx = Thursday hour 0
    assert(rows((3, 23))._1 == 1L) // 1969-12-31 23:00 = Wednesday (floor div)
    assert(rows.values.map(_._1).sum == 4L)
    // z for the 3-count bucket: (3 - 4/168)/sqrt(4/168) >> 3 -> spike
    assert(rows((4, 0))._2 && !rows((1, 0))._2)
  }

  test("dailyActivity: new vs returning split, multi-event days, null keys dropped") {
    import spark.implicits._
    // period 10: user 1 active in periods 0 (2 events) and 1; user 2
    // first appears in period 1; a null user is ignored
    val ev = Seq(
      (Option(1L), 1L), (Option(1L), 7L), (Option(1L), 12L),
      (Option(2L), 15L), (None: Option[Long], 3L)
    ).toDF("u", "t")
    val out = Retention.dailyActivity(ev, "u", "t", 10L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out(0L) == ((2L, 1L, 1L, 0L))) // 2 events, 1 active, 1 new
    assert(out(1L) == ((2L, 2L, 1L, 1L))) // user 2 new, user 1 returning
    assert(out.size == 2)
  }

  test("m4Downsample: first/last by time, min/max by value, per-bucket") {
    import spark.implicits._
    // bucket 0 (ts 0-9): values 5 (t=1), 9 (t=3), 2 (t=7) ->
    // first=5, last=2, min=2, max=9; bucket 1: single value
    val ev = Seq((1L, 10L, 5.0), (3L, 11L, 9.0), (7L, 12L, 2.0),
      (13L, 14L, 4.0)).toDF("t", "eid", "v")
    val out = Timeseries.m4Downsample(ev, "t", "v", "eid", 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out(0L) == ((3L, 2.0, 9.0, 5.0, 2.0)))
    assert(out(1L) == ((1L, 4.0, 4.0, 4.0, 4.0)))
    // tie on ts: event_id breaks it deterministically
    val tie = Seq((0L, 1L, 10.0), (0L, 2L, 20.0)).toDF("t", "eid", "v")
    val t = Timeseries.m4Downsample(tie, "t", "v", "eid", 10L).collect()(0)
    assert(t.getDouble(4) == 10.0 && t.getDouble(5) == 20.0)
  }

  test("ndcgLabelRetrieval: perfect, partial, and zero-relevance probes") {
    import spark.implicits._
    // 1-d embeddings: ranking by cosine of same-sign vectors is by
    // nothing (all cos=1) -> tie-break by id; labels decide relevance
    def v(x: Double) = Array(x)
    val emb = Seq(
      (0L, v(1.0), 7), (1L, v(1.0), 7), (2L, v(1.0), 7),
      (3L, v(1.0), 8), (4L, v(1.0), 9)
    ).toDF("id", "vec", "lab")
    val out = graft.ops.Similarity.ndcgLabelRetrieval(
        emb.where($"id" === 0 || $"id" === 4), emb, "id", "vec", "lab", 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getDouble(4))).toMap
    // probe 0 (label 7): neighbors by id tie-break = 1, 2 -> both
    // relevant; n_rel = 2 -> ndcg = 1, precision = 1
    assert(out(0L) == ((2L, 1.0, 1, 1.0)))
    // probe 4 (label 9): no other label-9 vector -> n_rel 0, all zero
    assert(out(4L) == ((0L, 0.0, 0, 0.0)))
  }

  test("cohortLtv: cumulative per-user revenue over the cohort age grid") {
    import spark.implicits._
    // user 1 & 2 start period 0, user 3 starts period 1; revenue only
    // from 'buy' rows
    val df = Seq(
      (1L, 0L, 10.0, "buy"), (1L, 25L, 5.0, "buy"), (2L, 3L, 0.0, "view"),
      (2L, 27L, 20.0, "buy"), (3L, 12L, 7.0, "buy"), (3L, 22L, 1.0, "buy")
    ).toDF("u", "t", "v", "et")
    val got = Retention.cohortLtv(df, "u", "t", "v",
        org.apache.spark.sql.functions.col("et") === "buy", period = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // cohort 0 (users 1,2): age 0 rev 10, age 2 rev 25 -> cum 35/2
    assert(got((0L, 0L)) == ((2L, 10.0, 10.0, 5.0)))
    assert(got((0L, 2L)) == ((2L, 25.0, 35.0, 17.5)))
    // cohort 1 (user 3): age 0 rev 7, age 1 rev 1
    assert(got((1L, 0L)) == ((1L, 7.0, 7.0, 7.0)))
    assert(got((1L, 1L)) == ((1L, 1.0, 8.0, 8.0)))
    assert(got.size == 4)
  }

  test("fleschReadingEase: exact counts on a hand sentence") {
    import spark.implicits._
    // "the cat sat. it ran!" -> 5 words, 2 sentences, 5 vowel groups
    val df = Seq((1L, "the cat sat. it ran!")).toDF("id", "text")
    val r = TextAnalysis.fleschReadingEase(df, "id", "text").head()
    assert(r.getLong(1) == 5L && r.getLong(2) == 2L && r.getLong(3) == 5L)
    val want = BigDecimal(206.835 - 1.015 * (5.0 / 2) - 84.6 * (5.0 / 5))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("flesch") == want)
  }

  test("logRank: identical curves score zero, separated curves do not") {
    import spark.implicits._
    val same = Seq((1L, true, true), (2L, true, true),
      (1L, true, false), (2L, true, false)).toDF("dur", "obs", "a")
    val r0 = Retention.logRank(same, "dur", "obs", col("a")).head()
    assert(r0.getAs[Double]("chi2") == 0.0)
    assert(r0.getAs[Double]("e_a") == r0.getLong(1).toDouble)
    // group A dies early, group B late -> positive statistic
    val sep = Seq((1L, true, true), (1L, true, true),
      (5L, true, false), (5L, true, false)).toDF("dur", "obs", "a")
    val r1 = Retention.logRank(sep, "dur", "obs", col("a")).head()
    assert(r1.getAs[Double]("chi2") > 0.0)
  }

  test("resampleFfill: gaps carry the last observation, latest wins") {
    import spark.implicits._
    // key 1: obs at p0 (two rows - later ts wins) and p3; p1/p2 filled
    val df = Seq((1L, 5L, 10.0), (1L, 7L, 20.0), (1L, 35L, 99.0),
      (2L, 12L, 7.0)).toDF("k", "t", "v")
    val got = Timeseries.resampleFfill(df, "k", "t", "v", periodUs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got === Map(
      (1L, 0L) -> 20.0, (1L, 1L) -> 20.0, (1L, 2L) -> 20.0,
      (1L, 3L) -> 99.0, (2L, 1L) -> 7.0))
  }

  test("intervalUnionLength: overlaps count once, islands split on gaps") {
    import spark.implicits._
    // key 1: [0,10) ∪ [5,15) ∪ [15,20) merge to [0,20) (touching
    // intervals merge: start == max-end-so-far is NOT a break);
    // [30,35) is its own island. key 2: nested [0,100) ⊃ [10,20).
    val df = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L), (1L, 15L, 20L), (1L, 30L, 35L),
      (2L, 0L, 100L), (2L, 10L, 20L)).toDF("k", "s", "e")
    val got = graft.ops.Sessionize
      .intervalUnionLength(df, "k", "s", "e")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((4L, 2L, 25L, 30L))) // sum counts overlap twice
    assert(got(2L) == ((2L, 1L, 100L, 110L))) // 10 double-covered
  }

  test("resampleInterpolate: interior gaps take the straight line") {
    import spark.implicits._
    // key 1: obs 20.0 at p0 (latest-wins over 10.0) and 80.0 at p3:
    // gap p1 = 20 + 60*(1/3) = 40, p2 = 20 + 60*(2/3) = 60
    val df = Seq((1L, 5L, 10.0), (1L, 7L, 20.0), (1L, 35L, 80.0),
      (2L, 12L, 7.0)).toDF("k", "t", "v")
    val got = Timeseries.resampleInterpolate(df, "k", "t", "v",
        periodUs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got === Map(
      (1L, 0L) -> 20.0, (1L, 1L) -> 40.0, (1L, 2L) -> 60.0,
      (1L, 3L) -> 80.0, (2L, 1L) -> 7.0))
  }

  test("coxPh: risk direction recovered; balanced data stays at zero") {
    import spark.implicits._
    // x=1 subjects die early (t=1), x=0 survive to t=10 censored
    val risky = (Seq.fill(20)((1L, true, 1.0)) ++
      Seq.fill(20)((10L, false, 0.0))).toDF("dur", "obs", "x")
    val b1 = Retention.coxPh(risky, "dur", "obs", "x").head()
    assert(b1.getAs[Long]("n_subjects") == 40L)
    assert(b1.getAs[Long]("n_deaths") == 20L)
    assert(b1.getAs[Double]("beta") > 0.5)
    assert(b1.getAs[Double]("hazard_ratio") > 1.0)
    // every subject dies at t=1, covariate balanced -> score is zero
    val flat = (Seq.fill(10)((1L, true, 1.0)) ++
      Seq.fill(10)((1L, true, 0.0))).toDF("dur", "obs", "x")
    val b0 = Retention.coxPh(flat, "dur", "obs", "x").head()
    assert(b0.getAs[Double]("beta") == 0.0)
  }

  test("rollingDistinct: trailing-window actives, observed periods only") {
    import spark.implicits._
    // periods: u1 active p0, u2 active p0 and p2, u3 active p5
    val df = Seq((1L, 0L), (2L, 5L), (2L, 25L), (3L, 55L))
      .toDF("u", "t")
    val got = Timeseries.rollingDistinct(df, "u", "t",
        periodUs = 10L, span = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // p0: {1,2}; p2: window p0..p2 -> {1,2}; p5: {3} (p3/p4 absent
    // from data -> no rows even though u2's fanout reaches p3/p4)
    assert(got === Map(0L -> 2L, 2L -> 2L, 5L -> 1L))
  }

  test("sq8TopK: identical ranking to exact on well-separated vectors") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "emb")
    val probes = vecs.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
    val got = Similarity.sq8TopK(probes, vecs, "vec_id", "emb", 3)
      .orderBy("rnk").collect().map(_.getLong(2)).toSeq
    // nearest by inner product: 1 (aligned), then 2/3 tie broken by id
    assert(got == Seq(1L, 2L, 3L))
  }
}
