package graft.profile

import graft.SparkSpec

class SpearmanSpec extends SparkSpec {
  import spark.implicits._

  /** Collect a (c, v, avgrank) rank table into per-column primitive
    * (doubleToLongBits(value) -> avgrank) maps, -0.0 folded: the
    * reference the driver-side rank build is checked against. */
  private def buildRankMaps(ranks: org.apache.spark.sql.DataFrame, cols: Seq[String])
      : Map[String, scala.collection.mutable.LongMap[Double]] = {
    import org.apache.spark.sql.functions.col
    val maps = cols.map(c =>
      c -> scala.collection.mutable.LongMap.empty[Double]).toMap
    ranks.where(col("c").isin(cols: _*)).collect().foreach { r =>
      val v0 = r.getAs[Double]("v")
      val v = if (v0 == 0.0) 0.0 else v0 // fold -0.0 (join-key parity)
      maps(r.getAs[String]("c"))
        .update(java.lang.Double.doubleToLongBits(v), r.getAs[Double]("avgrank"))
    }
    maps
  }

  test("rank-join spearman matches MLlib on real data") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_quantity", "l_extendedprice", "l_discount")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")

    val fast = Profiler.spearmanMatrix(df, cols)

    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.stat.Correlation
    val assembled = new VectorAssembler().setInputCols(cols.toArray)
      .setOutputCol("f").transform(df)
    val m = Correlation.corr(assembled, "f", "spearman").head()
      .getAs[org.apache.spark.ml.linalg.Matrix](0)

    for (i <- cols.indices; j <- cols.indices)
      assert(math.abs(fast.values(i)(j) - m(i, j)) < 1e-10,
        s"($i,$j): ${fast.values(i)(j)} vs ${m(i, j)}")
  }

  test("profile spearman is exact for FloatType columns (pass-B count reuse)") {
    // Floats whose shortest string does NOT parse to the same double as
    // a direct cast ((double)1.1f = 1.10000002..., but "1.1" parses to
    // 1.1d): pass B stores cast-to-string values, so reusing its counts
    // for ranking must restore floats through an intermediate float
    // cast — before that fix the rank join dropped every float row and
    // the Spearman entry degraded to NaN.
    val df = (1 to 200).map(i => ((i * 1.1).toFloat, i.toDouble))
      .toDF("xf", "y")
    val p = Profiler.profile(df, ProfileConfig.default.copy(
      persist = false, computeSpearman = true))
    val sp = p.correlations.find(_.method == "spearman").get
    val i = sp.columns.indexOf("xf"); val j = sp.columns.indexOf("y")
    assert(i >= 0 && j >= 0)
    val v = sp.values(i)(j)
    assert(!v.isNaN && math.abs(v - 1.0) < 1e-12,
      s"float-column spearman should be exactly 1.0, got $v")
  }

  test("driver-side rank maps == distributed ranking + collect") {
    // buildRankMapsFromCounts replaces Ranking.avgRanksFromCounts +
    // buildRankMaps below the broadcast gate — the two routes must agree
    // bit-for-bit, including ties, negatives, and -0.0 folding
    val counts = Seq(
      ("x", 1.5, 2L), ("x", -3.0, 1L), ("x", 7.0, 3L), ("x", 0.0, 1L),
      ("x", -0.0, 2L), // folds into 0.0's count
      ("y", 10.0, 4L), ("y", 2.0, 1L)
    ).toDF("c", "v", "cnt")
      .groupBy("c", "v")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt")) // fold like pass B
    val cols = Seq("x", "y")
    val direct = Profiler.buildRankMapsFromCounts(counts, cols)
    val viaDist = buildRankMaps(
      graft.ops.Ranking.avgRanksFromCounts(counts, "c", "v"), cols)
    cols.foreach { c =>
      assert(direct(c).toMap == viaDist(c).toMap, s"column $c rank maps differ")
    }
    // spot-check semantics: x values sorted [-3(1), 0(3), 1.5(2), 7(3)]
    // -> avg ranks 1, 3, 5.5, 8
    val x = direct("x")
    assert(x(java.lang.Double.doubleToLongBits(-3.0)) == 1.0)
    assert(x(java.lang.Double.doubleToLongBits(0.0)) == 3.0)
    assert(x(java.lang.Double.doubleToLongBits(1.5)) == 5.5)
    assert(x(java.lang.Double.doubleToLongBits(7.0)) == 8.0)
  }

  test("primitive rank build matches a naive reference on a dense randomized table") {
    // r17 pins buildRankMapsFromCounts' order-encoded primitive sort
    // (enc/decode bit trick + per-column parallel fold) against a
    // straightforward boxed reference over values that exercise every
    // ordering regime: negatives, positives, +-0.0, +-Infinity,
    // subnormals, duplicates across input rows, and skewed column sizes.
    val rnd = new scala.util.Random(20260819)
    val raw: Seq[(String, Double, Long)] =
      (1 to 4000).map { i =>
        val v = rnd.nextInt(8) match {
          case 0 => -rnd.nextDouble() * 1e9
          case 1 => rnd.nextDouble() * 1e-300 // subnormal-ish
          case 2 => Double.PositiveInfinity
          case 3 => Double.NegativeInfinity
          case 4 => if (rnd.nextBoolean()) 0.0 else -0.0
          case _ => (rnd.nextGaussian() * 1e3 * 1e6).floor / 1e6
        }
        (if (i % 5 == 0) "b" else "a", v, 1L + rnd.nextInt(3))
      } ++ Seq(("c", 42.0, 7L)) // single-value column
    val counts = raw.toDF("c", "v", "cnt")
    val cols = Seq("a", "b", "c")
    val got = Profiler.buildRankMapsFromCounts(counts, cols)
    // naive reference: fold -0.0, merge duplicates, boxed sort, prefix
    val ref: Map[String, Map[Long, Double]] = cols.map { c =>
      val m = scala.collection.mutable.HashMap.empty[Double, Long]
      raw.filter(_._1 == c).foreach { case (_, v0, n) =>
        val v = if (v0 == 0.0) 0.0 else v0
        m.update(v, m.getOrElse(v, 0L) + n)
      }
      var cum = 0L
      c -> m.toSeq.sortBy(_._1).map { case (v, n) =>
        val r = java.lang.Double.doubleToLongBits(v) -> (cum + (n + 1) / 2.0)
        cum += n
        r
      }.toMap
    }.toMap
    cols.foreach { c =>
      assert(got(c).toMap == ref(c), s"column $c rank maps differ")
    }
  }

  test("profile's shuffle-rank fallback matches the rank-map route") {
    // spearmanBroadcastMaxDistinct = 0 sends profile() down the Right
    // route: distributed ranks + spearmanMatrix's rank join, the plan a
    // rank table too big for the driver takes. Ties, nulls, -0.0 next
    // to 0.0 and a FloatType column exercise every keying rule; the date
    // and string columns share pass B's count table with the numeric
    // ones, so both routes must keep to the numeric rows. Sketch mode
    // takes both routes from its own melt.
    val rnd = new scala.util.Random(20261018)
    val df = (1 to 400).map { i =>
      val x = if (i % 17 == 0) None
        else if (i % 13 == 0) Some(-0.0)
        else if (i % 11 == 0) Some(0.0)
        else Some((rnd.nextInt(41) - 20).toDouble)
      val f = if (i % 19 == 0) None else Some(rnd.nextInt(30) * 1.1f)
      val y = if (i % 23 == 0) None else Some(math.floor(rnd.nextGaussian() * 8))
      val day = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(60)))
      (x, f, y, rnd.nextInt(90).toLong, day, s"s${rnd.nextInt(70)}")
    }.toDF("x", "f", "y", "k", "day", "s")
    val cfg = ProfileConfig.default.copy(persist = false, computeSpearman = true)
    def spearman(p: TableProfile) = p.correlations.find(_.method == "spearman").get
    val maps = spearman(Profiler.profile(df, cfg))
    assert(maps.columns == Seq("x", "f", "y", "k"))
    val sketch = cfg.copy(exactDistinct = false)
    for ((route, other) <- Seq("exact shuffle" -> cfg.copy(spearmanBroadcastMaxDistinct = 0L),
        "sketch maps" -> sketch, "sketch shuffle" -> sketch.copy(spearmanBroadcastMaxDistinct = 0L))) {
      val got = spearman(Profiler.profile(df, other))
      assert(got.columns == maps.columns, route)
      for (i <- maps.columns.indices; j <- maps.columns.indices) {
        val (a, b) = (maps.values(i)(j), got.values(i)(j))
        assert(!a.isNaN && math.abs(a - b) < 1e-12, s"$route ($i,$j): $a vs $b")
      }
    }
  }

  test("shuffle-rank fallback gives NaN on a pair with zero variance") {
    // Over the rows where both are non-null, y is constant: the
    // correlation is undefined, which the matrix reads as NaN (an ANSI
    // corr aggregate would raise DIVIDE_BY_ZERO instead)
    val df = (0 until 100).map { i =>
      (if (i < 50) Some(i.toDouble) else None, if (i < 50) 7.0 else i.toDouble)
    }.toDF("x", "y")
    val cfg = ProfileConfig.default.copy(persist = false, computeSpearman = true)
    for (maxDistinct <- Seq(cfg.spearmanBroadcastMaxDistinct, 0L)) {
      val p = Profiler.profile(df, cfg.copy(spearmanBroadcastMaxDistinct = maxDistinct))
      for (method <- Seq("pearson", "spearman")) {
        val m = p.correlations.find(_.method == method).get
        assert(m.columns == Seq("x", "y") && m.values(0)(1).isNaN, s"$method, $maxDistinct")
      }
    }
  }

  test("spearman handles ties and perfect monotonicity") {
    val df = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 25.0), (3.0, 30.0))
      .toDF("x", "y")
    val m = Profiler.spearmanMatrix(df, Seq("x", "y"))
    assert(m.values(0)(1) > 0.9)
    val inv = Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).toDF("x", "y")
    assert(math.abs(Profiler.spearmanMatrix(inv, Seq("x", "y"))
      .values(0)(1) + 1.0) < 1e-12)
  }
}
