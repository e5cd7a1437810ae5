package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalProfileSpec extends SparkSpec {
  import spark.implicits._
  import IncrementalProfile._

  private def approx(a: Double, b: Double, tol: Double = 1e-9) =
    math.abs(a - b) <= tol * (1.0 + math.abs(a) + math.abs(b))

  private lazy val rows = {
    val rnd = new scala.util.Random(5)
    (0 until 400).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(rnd.nextDouble() * 100 - 20),
        s"s${rnd.nextInt(37)}")
    }
  }
  private lazy val df = rows.toDF("id", "x", "s")

  test("merge of slice summaries == summary of the whole, field by field") {
    val whole = summarize(df).collect().map(s => s.column -> s).toMap
    val slices = (0 until 4).map(k =>
      summarize(df.where(col("id") % 4 === k)))
    val merged = merge(slices.reduce(_ unionByName _))
      .collect().map(s => s.column -> s).toMap
    for (c <- Seq("id", "x", "s")) {
      val (w, m) = (whole(c), merged(c))
      assert(m.nRows == w.nRows && m.n == w.n && m.nNum == w.nNum &&
        m.nZeros == w.nZeros)
      assert(m.vMin == w.vMin && m.vMax == w.vMax)
      assert(approx(m.mean, w.mean) && approx(m.m2, w.m2) &&
        approx(m.m3, w.m3) && approx(m.m4, w.m4), s"moments for $c")
      // HLL union keeps the registers but swaps HIP -> composite
      // estimation: both paths must sit within the lgK=12 rsd (~1.6%)
      // of the truth, not be bit-identical
      val exact = df.select(countDistinct(col(c))).head().getLong(0)
      for (est <- Seq(hllEstimate(m.hll), hllEstimate(w.hll)))
        assert(math.abs(est - exact) <= math.max(2.0, 0.05 * exact),
          s"hll for $c: est $est vs exact $exact")
    }
  }

  test("derived stats match Spark's corrected aggregate functions") {
    val got = stats(merge(
      summarize(df.where(col("id") % 2 === 0), Seq("x"))
        .unionByName(summarize(df.where(col("id") % 2 === 1), Seq("x")))))
      .head()
    val exp = df.select(
      avg("x"), stddev_samp("x"),
      graft.functions.StatFunctions.correctedSkewness(col("x")),
      graft.functions.StatFunctions.correctedKurtosis(col("x")),
      min("x"), max("x"), count(col("x"))).head()
    assert(got.getAs[Long]("n") == exp.getLong(6))
    assert(approx(got.getAs[Double]("mean"), exp.getDouble(0)))
    assert(approx(got.getAs[Double]("std"), exp.getDouble(1)))
    assert(approx(got.getAs[Double]("skewness"), exp.getDouble(2), 1e-8))
    assert(approx(got.getAs[Double]("kurtosis"), exp.getDouble(3), 1e-8))
    assert(got.getAs[Double]("min") == exp.getDouble(4))
    assert(got.getAs[Double]("max") == exp.getDouble(5))
  }

  test("HLL distinct estimate is exact in the small regime") {
    val s = merge(
      summarize(df.where(col("id") < 200), Seq("s"))
        .unionByName(summarize(df.where(col("id") >= 200), Seq("s"))))
      .collect().head
    val exact = df.select(countDistinct("s")).head().getLong(0)
    assert(hllEstimate(s.hll) == exact) // 37 distinct << 2^12 registers
  }

  test("merged KLL quantiles sit within the sketch's rank-error of exact") {
    val merged = merge(
      summarize(df.where(col("id") % 3 === 0), Seq("x"))
        .unionByName(summarize(df.where(col("id") % 3 === 1), Seq("x")))
        .unionByName(summarize(df.where(col("id") % 3 === 2), Seq("x"))))
    val got = stats(merged)
      .select("p25", "p50", "p75", "p95")
      .as[(Double, Double, Double, Double)].head()
    val xs = rows.flatMap(_._2).sorted
    // k=200 -> ~1.65% rank error; allow 2x slack, check by RANK distance
    def rankOf(v: Double) = xs.count(_ <= v).toDouble / xs.size
    for ((est, r) <- Seq(got._1 -> 0.25, got._2 -> 0.5, got._3 -> 0.75,
        got._4 -> 0.95))
      assert(math.abs(rankOf(est) - r) <= 0.035,
        s"quantile at $r: $est has rank ${rankOf(est)}")
  }

  test("summaries round-trip through parquet and merge after reload") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-incr-prof").toString
    write(summarize(df.where(col("id") < 200), Seq("x", "s")),
      s"$dir/dt=1")
    write(summarize(df.where(col("id") >= 200), Seq("x", "s")),
      s"$dir/dt=2")
    val reloaded = merge(load(spark, s"$dir/dt=*"))
      .collect().map(s => s.column -> s).toMap
    val direct = summarize(df, Seq("x", "s"))
      .collect().map(s => s.column -> s).toMap
    for (c <- Seq("x", "s")) {
      assert(reloaded(c).n == direct(c).n &&
        reloaded(c).nNum == direct(c).nNum)
      assert(approx(reloaded(c).mean, direct(c).mean) &&
        approx(reloaded(c).m2, direct(c).m2))
      val exact = df.select(countDistinct(col(c))).head().getLong(0)
      assert(math.abs(hllEstimate(reloaded(c).hll) - exact) <=
        math.max(2.0, 0.05 * exact))
    }
  }

  test("complex-typed columns summarize via counts+HLL (no numeric leg)") {
    val d = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)),
      (3L, Seq(1.0f, 2.0f)))
      .toDF("id", "embedding")
    // default all-columns mode must not throw on the array column
    val m = summarize(d).collect().map(s => s.column -> s).toMap
    assert(m("embedding").n == 3 && m("embedding").nNum == 0)
    assert(hllEstimate(m("embedding").hll) == 2L) // two distinct vectors
    assert(m("id").nNum == 3)
  }

  test("NaN values: min/max stay order-independent across slice splits") {
    // NaN planted mid-stream; split so one slice sees NaN first, the
    // other last — merge must equal the whole either way
    val vals = Seq(5.0, Double.NaN, 1.0, 9.0)
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    val whole = summarize(d, Seq("x")).collect().head
    val merged = merge(
      summarize(d.where(col("id") < 2), Seq("x"))
        .unionByName(summarize(d.where(col("id") >= 2), Seq("x"))))
      .collect().head
    // Double.compare ordering: NaN sorts greatest -> min real, max NaN
    assert(whole.vMin.contains(1.0) && whole.vMax.exists(_.isNaN))
    assert(merged.vMin.contains(1.0) && merged.vMax.exists(_.isNaN))
  }

  test("string and all-null columns: zero moments, usable counts") {
    val d = Seq((1L, "a", None: Option[Double]),
      (2L, "b", None), (3L, null.asInstanceOf[String], None))
      .toDF("id", "s", "z")
    val m = summarize(d, Seq("s", "z")).collect()
      .map(s => s.column -> s).toMap
    assert(m("s").n == 2 && m("s").nNum == 0 && m("s").m2 == 0.0)
    assert(m("s").vMin.isEmpty)
    assert(m("z").n == 0 && hllEstimate(m("z").hll) == 0L)
    // merging an empty-column slice with a populated one keeps the data
    val withData = Seq((4L, "c", Some(7.0))).toDF("id", "s", "z")
    val merged = merge(summarize(d, Seq("z"))
      .unionByName(summarize(withData, Seq("z"))))
      .collect().head
    assert(merged.nNum == 1 && merged.vMin.contains(7.0) &&
      merged.mean == 7.0)
  }

  test("datetime columns summarize as epoch seconds, like the profiler") {
    val d = spark.sql("""SELECT * FROM VALUES
        (DATE'2024-01-01', TIMESTAMP_NTZ'2024-03-01 10:00:00',
         TIMESTAMP'2024-03-01 10:00:00'),
        (DATE'1969-12-31', TIMESTAMP_NTZ'1970-01-01 00:00:00',
         TIMESTAMP'1970-01-01 00:00:01'),
        (NULL, NULL, NULL)
      AS t(d, ntz, ts)""")
    val m = summarize(d).collect().map(s => s.column -> s).toMap
    for (c <- Seq("d", "ntz", "ts")) {
      val e = unix_timestamp(col(c).cast("timestamp"))
      val exp = d.select(min(e), max(e), count(col(c))).head()
      assert(m(c).nRows == 3 && m(c).n == 2 && m(c).nNum == 2, c)
      assert(m(c).vMin.contains(exp.getLong(0).toDouble), c)
      assert(m(c).vMax.contains(exp.getLong(1).toDouble), c)
    }
    assert(m("d").vMin.contains(-86400.0) && m("ntz").vMin.contains(0.0))
  }
}
