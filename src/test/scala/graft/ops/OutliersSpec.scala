package graft.ops

import graft.SparkSpec

class OutliersSpec extends SparkSpec {
  import spark.implicits._

  test("hillTailIndex: hand-computed ladder, Pareto recovery, tie threshold") {
    // top-3 of {16,8,4,2,1} with k=2: threshold 4, 1/a = (ln4 + ln2)/2
    val tiny = Seq(16.0, 8.0, 4.0, 2.0, 1.0, -3.0, 0.0).toDF("v")
    val r = Outliers.hillTailIndex(tiny, "v", k = 2).head()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 4.0)
    assert(r.getDouble(3) == r6((math.log(4.0) + math.log(2.0)) / 2))
    assert(r.getDouble(4) == r6(2 / (math.log(4.0) + math.log(2.0))))
    // Pareto(alpha=2) quantile grid: x = u^(-1/2) -> hill alpha ~ 2
    val pareto = (1 to 2000).map(i => math.pow(i / 2001.0, -0.5)).toDF("v")
    val p = Outliers.hillTailIndex(pareto, "v", k = 100).head()
    assert(math.abs(p.getDouble(4) - 2.0) < 0.35)
    // all-equal top: ties collapse the strict-tail to zero rows
    val flat = Seq.fill(10)(5.0).toDF("v")
    val f = Outliers.hillTailIndex(flat, "v", k = 3).head()
    assert(f.getLong(1) == 0L && f.isNullAt(4))
  }
  import spark.implicits._

  test("tukey fences: planted outliers counted, clean column zero") {
    // clean: uniform 1..100 (q1=25.75, q3=75.25, iqr=49.5 -> fences far
    // outside the data); dirty: same but with planted extremes
    val dirty = (1 to 100).map(_.toDouble) ++ Seq(-500.0, -400.0, 900.0)
    val rows = dirty.zipWithIndex.map { case (v, i) =>
      (if (i < 100) Some(v) else None, v) // clean = 1..100 + 3 nulls
    }
    val df = rows.toDF("clean", "dirty")

    val r = Outliers.tukeyScreen(df, Seq("clean", "dirty")).collect()
    val byCol = r.map(x => x.getString(0) -> x).toMap

    val c = byCol("clean")
    assert(c.getLong(5) == 0 && c.getLong(6) == 0) // n_below, n_above
    assert(c.getDouble(1) == 25.75 && c.getDouble(2) == 75.25) // q1, q3
    assert(c.getLong(7) == 100) // nulls excluded

    val d = byCol("dirty")
    assert(d.getLong(5) == 2, s"expected 2 below: $d")
    assert(d.getLong(6) == 1, s"expected 1 above: $d")
    assert(d.getLong(7) == 103)
  }

  test("fence arithmetic matches driver-side replication on skewed data") {
    val rnd = new scala.util.Random(5)
    val vs = Seq.fill(500)(math.exp(rnd.nextGaussian()))
    val r = Outliers.tukeyScreen(vs.toDF("v"), Seq("v")).head()
    // replicate: exact linear-interp quartiles, rounded, fences, counts
    val sorted = vs.sorted
    def pct(p: Double) = {
      val h = (sorted.size - 1) * p
      val i = h.toInt
      sorted(i) + (h - i) * (sorted(math.min(i + 1, sorted.size - 1)) - sorted(i))
    }
    def r6(x: Double) =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val (q1, q3) = (r6(pct(0.25)), r6(pct(0.75)))
    val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    assert(r.getDouble(1) == q1 && r.getDouble(2) == q3)
    assert(r.getDouble(3) == lo && r.getDouble(4) == hi)
    assert(r.getLong(5) == vs.count(_ < lo))
    assert(r.getLong(6) == vs.count(_ > hi))
  }

  test("all-null column and unsafe names rejected with clear errors") {
    val df = Seq((Some(1.0), Option.empty[Double]),
      (Some(2.0), None)).toDF("ok", "allnull")
    val e = intercept[IllegalArgumentException] {
      Outliers.tukeyScreen(df, Seq("ok", "allnull"))
    }
    assert(e.getMessage.contains("allnull"), e.getMessage)
    intercept[IllegalArgumentException] {
      Outliers.tukeyScreen(df, Seq("bad`name"))
    }
  }

  test("nulls and NaNs excluded from quartiles and counts") {
    val df = (Seq.tabulate(50)(i => Some(i.toDouble)) ++
      Seq(None, None, Some(Double.NaN), Some(1e9))).toDF("v")
    val r = Outliers.tukeyScreen(df, Seq("v")).head()
    assert(r.getLong(7) == 51) // 50 live + planted outlier; null/NaN out
    assert(r.getLong(6) == 1) // the 1e9
  }
  test("winsorizedStats: clamps tails, exact cents sums, hand-checked") {
    // 0..99 with one wild outlier; p01/p99 of 0..100-ish clamp it
    val df = (Seq.tabulate(100)(i => i.toDouble) :+ 1e9).toDF("v")
    val r = Outliers.winsorizedStats(df, "v", 0.1, 0.9).head()
    assert(r.getLong(0) == 101)
    val bLo = r.getDouble(1); val bHi = r.getDouble(2)
    assert(bLo == 10.0 && bHi == 90.0)
    assert(r.getLong(3) == 10 && r.getLong(4) == 10) // 0..9 and 91..99,1e9
    // winsorized mean: (10*10 + (10+...+90) + 10*90) / 101
    val wm = (10 * 10.0 + (10 to 90).sum + 10 * 90.0) / 101
    assert(math.abs(r.getDouble(5) - wm) < 1e-6)
    assert(r.getDouble(6) > 0 && r.getDouble(6) < 40)
    // all-null column rejected loudly
    intercept[IllegalArgumentException] {
      Outliers.winsorizedStats(
        Seq[Option[Double]](None, None).toDF("v"), "v")
    }
  }
  test("robustZScreen: MAD-based flags, zero-MAD guarded") {
    // 22 values: 0..20 + 1e9 -> median interpolates to 10.5,
    // MAD = median of distances = 5.5; 1e9 is the only |z|>3.5
    val df = (Seq.tabulate(21)(i => i.toDouble) :+ 1e9).toDF("v")
    val r = Outliers.robustZScreen(df, "v").head()
    assert(r.getLong(0) == 22)
    assert(r.getDouble(1) == 10.5 && r.getDouble(2) == 5.5)
    assert(r.getLong(3) == 1 && r.getDouble(4) > 0)
    // majority-constant column: MAD 0 -> null anomaly fields, no crash
    val z = Outliers.robustZScreen(
      (Seq.fill(10)(7.0) :+ 9.0).toDF("v"), "v").head()
    assert(z.getDouble(2) == 0.0 && z.isNullAt(3) && z.isNullAt(4))
  }

  test("mahalanobisTopK: the joint outlier ranks first") {
    // tight correlated cloud along y = x, plus one point far OFF the
    // correlation axis but inside both marginal ranges
    val pts = (1 to 60).map(i => (i.toLong, i % 20 + 1.0,
      (i % 20 + 1.0) * 10)) :+ (99L, 3.0, 180.0)
    val df = pts.toDF("rid", "x1", "x2")
    val top = Outliers.mahalanobisTopK(df, "rid", "x1", "x2", k = 3)
      .orderBy("rnk").collect()
    assert(top.head.getLong(1) == 99L)
    assert(top.head.getAs[Double]("d2") >
      top(1).getAs[Double]("d2"))
  }

  test("decisionStump: recovers the planted perfect split") {
    import org.apache.spark.sql.functions.col
    // y = 1 exactly when x > 32 over x in 1..64, 64 bins on [1, 64]
    val df = (1 to 64).map(i => (i.toDouble, i)).toDF("x", "i")
    val r = FeatureEng.decisionStump(df, "x",
      (col("i") > 32).cast("int"), bins = 64).head()
    // the best split separates buckets 0..31 from 32..63
    assert(r.getAs[Long]("n_left") == 32L)
    assert(r.getAs[Long]("pos_left") == 0L)
    assert(r.getAs[Long]("pos_right") == 32L)
    assert(math.abs(r.getAs[Double]("gain") - 0.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("gini_parent") - 0.5) < 1e-9)
  }
}
