package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("theilDecomposition: hand-computed groups, additive identity, equal group zero") {
    import spark.implicits._
    val df = Seq(("a", 2L), ("a", 2L), ("a", 4L), ("b", 1L), ("b", 1L))
      .toDF("g", "x")
    val out = Skew.theilDecomposition(df, "g", "x")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val muA = 8.0 / 3
    val tA = (2 * (2 / muA) * math.log(2 / muA) +
      (4 / muA) * math.log(4 / muA)) / 3
    assert(out("a")._1 == 3L && out("a")._2 == r6(muA))
    assert(out("a")._3 == r6(tA))
    assert(out("a")._4 == 0.8) // mass share 8/10
    assert(out("a")._5 == r6(0.8 * tA))
    assert(out("a")._6 == r6(0.8 * math.log(muA / 2.0)))
    // all-equal group: within-Theil exactly zero
    assert(out("b")._3 == 0.0 && out("b")._5 == 0.0)
    assert(out("b")._6 == r6(0.2 * math.log(1.0 / 2.0)))
    // additive identity: sum(within) + sum(between) == direct corpus T
    val mu = 2.0
    val direct = Seq(2.0, 2.0, 4.0, 1.0, 1.0)
      .map(x => (x / mu) * math.log(x / mu)).sum / 5
    val total = out.values.map(v => v._5 + v._6).sum
    assert(math.abs(total - direct) < 3e-6)
  }
  import spark.implicits._

  // one hot key (0) carrying half the rows, plus a uniform tail
  private lazy val big = ((1 to 500).map(i => (0, s"hot$i")) ++
    (1 to 500).map(i => (i % 20 + 1, s"cold$i"))).toDF("k", "payload")
  private lazy val small = (0 to 20).map(i => (i, s"dim$i")).toDF("k", "attr")

  test("saltedJoin == plain join, and the join key carries the salt") {
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    val expected = big.join(small, "k").collect().map(_.toSeq).toSet
    assert(salted.collect().map(_.toSeq).toSet == expected)
    // the physical join must key on (k, __salt): the hot key's rows
    // hash-distribute over `salts` tasks instead of one
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt not in join keys:\n$plan")
  }

  test("saltedJoin salt is deterministic: same result on re-run") {
    val a = Skew.saltedJoin(big, small, "k", salts = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = Skew.saltedJoin(big, small, "k", salts = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("saltedCount == plain groupBy count") {
    val salted = Skew.saltedCount(big, "k", salts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val plain = big.groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted(0) == 500L)
  }

  test("salting survives a user __salt column and MapType columns") {
    // an input that already owns "__salt" must not collide with the
    // temp column, and a map column must not break the row-hash salt
    // (Spark's hash rejects MapType)
    val bigTricky = big
      .withColumn("__salt", lit("user-data"))
      .withColumn("m", map(lit("a"), col("payload")))
    val salted = Skew.saltedJoin(bigTricky, small, "k", salts = 8)
    val expected = bigTricky.join(small, "k")
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(salted.collect().map(_.toSeq.map(String.valueOf)).toSet == expected)
    // user column passes through untouched
    assert(salted.columns.count(_ == "__salt") == 1)
    val counts = Skew.saltedCount(bigTricky, "k", salts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 500L)
  }

  test("maps nested in struct and array columns don't break salting") {
    // Spark's hash() rejects MapType anywhere in the type tree, not just
    // top level — a map inside a struct or array must be canonicalized
    val bigNested = big
      .withColumn("s", struct(col("k").as("kk"),
        map(lit("a"), col("payload")).as("m")))
      .withColumn("arr", array(map(lit("x"), col("k"))))
    val salted = Skew.saltedJoin(bigNested, small, "k", salts = 8)
    val expected = bigNested.join(small, "k")
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(salted.collect().map(_.toSeq.map(String.valueOf)).toSet == expected)
    val counts = Skew.saltedCount(bigNested, "k", salts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 500L)
  }

  test("keySkewStats: shares, HHI, and top-K on a planted hot key") {
    // key 'hot' 60 rows, 'b' 30, 'c' 10 -> n=100, top1 0.6
    val df = (Seq.fill(60)("hot") ++ Seq.fill(30)("b") ++
      Seq.fill(10)("c")).toDF("k")
    val r = Skew.keySkewStats(df, "k", topK = 2).head()
    assert(r.getLong(0) == 100 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.6) // top1
    assert(r.getDouble(3) == 0.9) // top2 = (60+30)/100
    assert(r.getDouble(4) == 0.46) // 0.36+0.09+0.01
    assert(math.abs(r.getDouble(5) - 100.0 / 3) < 1e-6)
  }

  test("keySkewStats: uniform keys give hhi = 1/n_keys") {
    val df = (1 to 80).map(i => s"k${i % 8}").toDF("k")
    val r = Skew.keySkewStats(df, "k", topK = 3).head()
    assert(r.getDouble(4) == 0.125)
    assert(r.getDouble(2) == 0.125 && r.getDouble(3) == 0.375)
  }
  test("gini: 0 for equal values, (n-1)/n for total concentration, hand case") {
    import spark.implicits._
    val eq = Skew.gini(Seq.fill(40)(5.0).toDF("v"), "v").head()
    assert(eq.getLong(0) == 40 && eq.getDouble(1) == 0.0)
    // one owner holds everything: G = (n-1)/n = 0.75 for n=4
    val tot = Skew.gini(Seq(0.0, 0.0, 0.0, 8.0).toDF("v"), "v").head()
    assert(tot.getDouble(1) == 0.75)
    // hand case with ties: x = 1,1,2 sorted; S1 = 1*1+2*1+3*2 = 9
    // G = 2*9/(3*4) - 4/3 = 1.5 - 1.3333... = 0.166667
    val h = Skew.gini(Seq(2.0, 1.0, 1.0).toDF("v"), "v").head()
    assert(h.getDouble(1) == 0.166667)
    // empty input: n = 0, null gini
    val e = Skew.gini(Seq.empty[Double].toDF("v"), "v").head()
    assert(e.getLong(0) == 0 && e.isNullAt(1))
  }
}
