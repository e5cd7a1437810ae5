package graft.ops

import graft.SparkSpec

/** KMV sketch edges (q376 gates the estimator path over the corpus
  * vocabulary; this pins the exact-small branch and merge facts). */
class KmvSketchSpec extends SparkSpec {

  test("exact-small branch: groups under k estimate exactly") {
    import spark.implicits._
    val df = Seq.tabulate(30)(i => (s"g${i % 3}", s"w$i"))
      .toDF("g", "w")
    val ov = KmvSketch.overlap(df, "g", "w", k = 64)
      .orderBy("src_a", "src_b").collect()
    assert(ov.length === 3) // C(3,2)
    ov.foreach { r =>
      // 10 distinct keys per group, fully disjoint
      assert(r.getAs[Int]("k_eff") === 20)
      assert(r.getAs[Int]("n_shared") === 0)
      assert(r.getAs[Double]("est_union") === 20.0) // exact
      assert(r.getAs[Double]("jaccard_est") === 0.0)
      assert(r.getAs[Double]("est_intersection") === 0.0)
    }
  }

  test("identical groups: jaccard 1, union = group size") {
    import spark.implicits._
    val df = (Seq.tabulate(12)(i => ("a", s"w$i")) ++
      Seq.tabulate(12)(i => ("b", s"w$i"))).toDF("g", "w")
    val r = KmvSketch.overlap(df, "g", "w", k = 8).head()
    assert(r.getAs[Int]("k_eff") === 8) // 12 distinct > k: sketch full
    assert(r.getAs[Int]("n_shared") === 8)
    assert(r.getAs[Double]("jaccard_est") === 1.0)
    // estimator path: (k-1)/R, never the exact branch
    assert(r.getAs[Double]("est_union") > 0.0)
    assert(r.getAs[Double]("est_intersection") ===
      r.getAs[Double]("est_union"))
  }

  test("sketch is deterministic and duplicate-insensitive") {
    import spark.implicits._
    val once = Seq.tabulate(100)(i => ("g", s"w$i")).toDF("g", "w")
    val thrice = Seq.tabulate(300)(i => ("g", s"w${i % 100}"))
      .toDF("g", "w")
    val a = KmvSketch.sketch(once, "g", "w", 16)
      .select("kmv").head().getSeq[Long](0)
    val b = KmvSketch.sketch(thrice, "g", "w", 16)
      .select("kmv").head().getSeq[Long](0)
    assert(a === b)
    assert(a.length === 16 && a === a.sorted)
  }
}
