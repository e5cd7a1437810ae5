package graft.functions


import graft.SparkSpec

class HilbertSpec extends SparkSpec {
  import spark.implicits._

  test("xy2d matches the canonical 4x4 Hilbert walk") {
    val expected = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (1L, 1L) -> 2L, (0L, 1L) -> 3L,
      (0L, 2L) -> 4L, (0L, 3L) -> 5L, (1L, 3L) -> 6L, (1L, 2L) -> 7L,
      (2L, 2L) -> 8L, (2L, 3L) -> 9L, (3L, 3L) -> 10L, (3L, 2L) -> 11L,
      (3L, 1L) -> 12L, (2L, 1L) -> 13L, (2L, 0L) -> 14L, (3L, 0L) -> 15L)
    expected.foreach { case ((x, y), d) =>
      assert(HilbertIndexExpr.xy2d(2, x, y) == d, s"($x,$y)")
    }
  }

  test("bijective and curve-adjacent at bits=5 (every step is 1 cell)") {
    val n = 32
    val pos = (for (x <- 0 until n; y <- 0 until n)
      yield HilbertIndexExpr.xy2d(5, x, y) -> ((x, y))).toMap
    assert(pos.size == n * n) // bijection onto [0, n^2)
    assert(pos.keySet.min == 0L && pos.keySet.max == (n * n - 1).toLong)
    (0L until (n * n - 1).toLong).foreach { d =>
      val (x1, y1) = pos(d); val (x2, y2) = pos(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("SQL surface graft_hilbert agrees with the static method; null in, null out") {
    GraftFunctions.register(spark)
    val rows = Seq((3L, 0L), (7L, 7L), (1023L, 1L)).toDF("x", "y")
      .selectExpr("graft_hilbert(x, y, 10) AS d").as[Long].collect()
    assert(rows.toSeq == Seq(
      HilbertIndexExpr.xy2d(10, 3, 0),
      HilbertIndexExpr.xy2d(10, 7, 7),
      HilbertIndexExpr.xy2d(10, 1023, 1)))
    val nulls = Seq((Some(1L), Option.empty[Long]),
      (Option.empty[Long], Some(2L))).toDF("x", "y")
      .selectExpr("graft_hilbert(x, y, 4) AS d").collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("Hilbert files have tighter boxes than Morton under equal-COUNT splits") {
    // The aligned power-of-4 bucketing of q202/q239 tiles IDENTICALLY
    // under both curves (any aligned subtree is a square tile either
    // way — only the id→tile assignment differs, which is exactly what
    // the q239 oracle pins). The locality advantage appears where real
    // writes create it: repartitionByRange on the sort key cuts
    // EQUAL-COUNT files at arbitrary (unaligned) curve positions, and
    // there Hilbert's every-step-adjacent walk yields tighter zone-map
    // boxes than Morton's power-of-two jumps.
    val n = 64
    def meanHalfPerimeter(curve: (Long, Long) => Long): Double = {
      val cells = (for (x <- 0 until n; y <- 0 until n)
        yield (curve(x.toLong, y.toLong), x, y)).sortBy(_._1)
      val perFile = cells.size / 60 + 1
      val boxes = cells.zipWithIndex
        .groupBy { case (_, i) => i / perFile }
        .values.map { g =>
          val xs = g.map(_._1._2); val ys = g.map(_._1._3)
          (xs.max - xs.min) + (ys.max - ys.min)
        }
      boxes.sum.toDouble / boxes.size
    }
    val hil = meanHalfPerimeter(HilbertIndexExpr.xy2d(6, _, _))
    val mor = meanHalfPerimeter((x, y) =>
      (0 until 6).foldLeft(0L)((acc, k) =>
        acc | ((x >> k) & 1L) << (2 * k) | ((y >> k) & 1L) << (2 * k + 1)))
    assert(hil < mor, s"hilbert $hil !< morton $mor")
  }
}
