package graft.ops

import graft.SparkSpec

class DiversitySpec extends SparkSpec {

  test("hillNumbers: hand-computed ladder, uniform equality, ordering D0>=D1>=D2") {
    import spark.implicits._
    // group a: counts {4, 2, 2} over 3 types; group u: uniform {3, 3, 3}
    val toks = (Seq.fill(4)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(2)(("a", "z")) ++
      Seq.fill(3)(("u", "p")) ++ Seq.fill(3)(("u", "q")) ++
      Seq.fill(3)(("u", "r"))).toDF("g", "w")
    val out = Diversity.hillNumbers(toks, "g", "w")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (na, d0a, d1a, d2a, eva) = out("a")
    assert(na == 8L && d0a == 3L)
    val h = math.log(8.0) -
      (4 * math.log(4.0) + 2 * math.log(2.0) + 2 * math.log(2.0)) / 8.0
    assert(d1a == r6(math.exp(h)))
    assert(d2a == r6(64.0 / 24.0))
    assert(eva == r6(math.exp(h) / 3.0))
    assert(d0a >= d1a && d1a >= d2a) // the Hill ordering
    // uniform distribution: all Hill numbers equal the type count
    val (_, d0u, d1u, d2u, evu) = out("u")
    assert(d0u == 3L && d1u == 3.0 && d2u == 3.0 && evu == 1.0)
  }
  import spark.implicits._

  test("keyEntropyHistogram: single-state keys bin 0, uniform mix ln2") {
    // u1: one type (H = 0); u2: 2+2 uniform (H = ln 2 ~ 0.693, bin 2);
    // u3: single event (H = 0); null key dropped
    val df = (Seq.fill(5)(("u1", "a")) ++
      Seq(("u2", "a"), ("u2", "a"), ("u2", "b"), ("u2", "b")) ++
      Seq(("u3", "x")) ++ Seq((null: String, "y")))
      .toDF("k", "st")
    val got = Diversity.keyEntropyHistogram(df, "k", "st")
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(got == Map(
      0 -> ((0.0, 0.25, 2L)),   // u1, u3
      2 -> ((0.5, 0.75, 1L)))) // u2 at ln 2 = 0.6931
  }

  test("keyEntropyHistogram: top bin clamps, counts stay exact") {
    // 16 distinct states, one event each: H = ln 16 = 2.77 -> bin 11
    val df = (0 until 16).map(i => ("u", s"s$i")).toDF("k", "st")
    val got = Diversity.keyEntropyHistogram(df, "k", "st").collect()
    assert(got.length == 1 && got(0).getInt(0) == 11 &&
      got(0).getLong(3) == 1L)
  }
}
