package graft.ops

import graft.SparkSpec

/** MinHash-LSH banding must follow the S-curve 1 - (1 - s^r)^b: that
  * needs the signature's hash functions to act independently. Pairs
  * are planted at exact Jaccard levels over random shingles, and each
  * level's candidate rate is checked against the curve within a
  * binomial tolerance. */
class MinhashSCurveSpec extends SparkSpec {
  import spark.implicits._

  test("LSH candidate rate per Jaccard level follows the S-curve") {
    val (bands, rows, union, perLevel) = (4, 4, 40, 250)
    val levels = Seq(8, 16, 20, 24, 32) // shared shingles of 40: J = 0.2 .. 0.8
    val rnd = new scala.util.Random(11)
    def token() = rnd.alphanumeric.take(12).mkString
    val planted = for {
      (shared, l) <- levels.zipWithIndex
      k <- 0 until perLevel
    } yield {
      val (i, j) = (2L * (l * perLevel + k), 2L * (l * perLevel + k) + 1)
      val common = Seq.fill(shared)(token())
      val own = (union - shared) / 2
      (shared, i, j,
        (common ++ Seq.fill(own)(token())).map(g => (i, g)) ++
          (common ++ Seq.fill(own)(token())).map(g => (j, g)))
    }
    val sh = planted.flatMap(_._4).toDF("id", "g")
    val sigs = Dedup.minhashSignaturesFromShingles(sh, bands * rows)
    val cand = Dedup.minhashLshPairs(sigs, bands, rows)
      .as[(Long, Long)].collect().toSet
    for ((shared, l) <- levels.zipWithIndex) {
      val s = shared.toDouble / union
      val p = 1 - math.pow(1 - math.pow(s, rows), bands)
      val hits = planted.filter(_._1 == shared)
        .count { case (_, i, j, _) => cand.contains((i, j)) }
      val rate = hits.toDouble / perLevel
      val tol = 4 * math.sqrt(p * (1 - p) / perLevel) + 0.02
      assert(math.abs(rate - p) <= tol,
        f"level $l (J = $s%.2f): candidate rate $rate%.3f, S-curve $p%.3f ± $tol%.3f")
    }
  }
}
