package graft.ops

import graft.SparkSpec

/** Round-10 additions: Fisher separation, two-NN intrinsic dimension,
  * duplicated-span coverage, assortativity, log-odds terms,
  * temperature mixing. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("fisherSeparation: separating dim ranks far above noise dim") {
    val rnd = new scala.util.Random(3)
    // dim 0 separates the classes by 10; dim 1 is pure noise
    val df = (1 to 400).map { i =>
      val c = i % 2
      (c, Array((c * 10 + rnd.nextGaussian()).toFloat,
        rnd.nextGaussian().toFloat))
    }.toDF("label", "embedding")
    val out = EmbeddingStats.fisherSeparation(df, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(0, 1))
    val (b0, w0, f0) = out(0)
    val (_, _, f1) = out(1)
    assert(b0 > 20 && w0 < 2, s"dim0 between=$b0 within=$w0")
    assert(f0 > 10 * math.max(f1, 1e-6), s"f0=$f0 f1=$f1")
  }

  test("intrinsicDimension: ~d on a d-dim uniform cloud; dups excluded") {
    val rnd = new scala.util.Random(11)
    def cloud(d: Int, n: Int) = (1 to n).map(i =>
      (i.toLong, Array.fill(d)(rnd.nextFloat()))).toDF("id", "v")
    val r2 = EmbeddingStats.intrinsicDimension(cloud(2, 600), "id", "v")
      .head()
    assert(r2.getInt(2) === 2)
    val id2 = r2.getDouble(1)
    assert(id2 > 1.2 && id2 < 3.0, s"2-dim cloud estimated $id2")
    val r8 = EmbeddingStats.intrinsicDimension(cloud(8, 600), "id", "v")
      .head()
    val id8 = r8.getDouble(1)
    assert(id8 > 4.5 && id8 < 13.0, s"8-dim cloud estimated $id8")
    assert(id8 > id2)
    // exact duplicates are excluded, not divided by zero
    val dup = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f)),
      (3L, Array(3f, 1f)), (4L, Array(0f, 0f)))
      .toDF("id", "v")
    val rd = EmbeddingStats.intrinsicDimension(dup, "id", "v").head()
    assert(rd.getLong(0) <= 4)
  }

  test("dupSpanCoverage: copied spans cover, unique text does not") {
    val shared = (1 to 12).map(n => s"tok$n").mkString(" ")
    val docs = Seq(
      (1L, s"$shared unique1 unique2 unique3"),
      (2L, s"prefixA prefixB $shared"),
      (3L, "all words here are entirely unrepeated elsewhere truly"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(docs, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getDouble(5))).toMap
    val (n1, cov1, frac1) = out(1L)
    // winnowing SELECTS a subset of grams (min per window), so shared
    // fingerprints cover most but not every word of a copied run
    assert(n1 === 15L && cov1 >= 7L, s"doc1 covered=$cov1")
    assert(frac1 >= 0.45, s"doc1 frac=$frac1")
    assert(out(3L)._2 === 0L && out(3L)._3 === 0.0)
    assert(out(2L)._2 >= 7L)
  }

  test("assortativity: star is disassortative, clique-pair positive-ish") {
    // star: hub 0 to leaves 1..6 -> strongly negative
    val star = (1L to 6L).map(i => (0L, i)).toDF("i", "j")
    val rs = GraphStats.assortativity(star, "i", "j").head()
    assert(rs.getLong(0) === 7L && rs.getLong(1) === 6L)
    assert(rs.getDouble(2) < -0.99)
    // regular graph (4-cycle): zero degree variance -> null
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("i", "j")
    assert(GraphStats.assortativity(cyc, "i", "j").head().isNullAt(2))
  }

  test("logOddsTerms: source-exclusive words top the z ranking") {
    val docs =
      (1 to 30).map(i => ("s0", "alpha beta gamma shared common")) ++
        (1 to 30).map(i => ("s1", "delta epsilon zeta shared common"))
    val out = TextAnalysis.logOddsTerms(
        docs.toDF("source", "text"), "source", "text", "s0", topM = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(4)))
    assert(out.map(_._2).toSet === Set("alpha", "beta", "gamma"))
    assert(out.forall(_._3 > 0))
    assert(out.map(_._1).toSeq === Seq(1, 2, 3))
    // shared words are NOT distinctive
    val all = TextAnalysis.logOddsTerms(
        docs.toDF("source", "text"), "source", "text", "s0", topM = 10)
      .collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(math.abs(all("shared")) < 1.0)
  }

  test("heapsLawFit: recovers the exponent of a synthetic power law") {
    // build sources whose (N, V) points sit exactly on V = 2 * N^0.5
    val docs = Seq(100, 400, 2500, 10000).zipWithIndex.map {
      case (n, i) =>
        val v = 2 * math.sqrt(n).toInt
        // v distinct words, repeated to n tokens total
        val ws = (0 until n).map(t => s"s${i}w${t % v}").mkString(" ")
        (s"s$i", ws)
    }
    val r = TextAnalysis.heapsLawFit(
      docs.toDF("source", "text"), "source", "text").head()
    assert(r.getLong(0) === 4L)
    assert(math.abs(r.getDouble(1) - 0.5) < 0.02, s"beta=${r.getDouble(1)}")
    assert(r.getDouble(3) > 0.999, s"r2=${r.getDouble(3)}")
    // degenerate: one source -> nulls, not a crash
    val one = TextAnalysis.heapsLawFit(
      Seq(("a", "x y z")).toDF("source", "text"), "source", "text").head()
    assert(one.isNullAt(1) && one.isNullAt(3))
  }

  test("lshBandingPlan: S-curve values exact; more bands = higher recall") {
    val pairs = Seq(0.8, 0.9, 1.0).toDF("jaccard")
    val out = Dedup.lshBandingPlan(pairs, "jaccard", numHashes = 16)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(x => (x._1, x._2)).toSeq ===
      Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)))
    assert(out.forall(_._3 === 3L))
    def p(s: Double, b: Int, r: Int) =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val want44 = BigDecimal(Seq(0.8, 0.9, 1.0).map(p(_, 4, 4)).sum / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out.find(_._1 == 4).get._4 - want44) < 1e-9)
    // banding with more, narrower bands catches near-dups better
    val avg = out.map(x => (x._1, x._4)).toMap
    assert(avg(16) > avg(4) && avg(4) > avg(1))
    assert(out.find(_._1 == 16).get._5 > 0.99) // s=0.8 nearly certain
  }

  test("paddingWaste: exact integer masses and efficiency") {
    val docs = Seq(
      ("a", (1 to 256).map(_ => "w").mkString(" ")), // exactly 1 seq
      ("a", (1 to 257).map(_ => "w").mkString(" ")), // 2 seqs, 255 waste
      ("b", "w w w")) // 1 seq, 253 waste
      .toDF("source", "text")
    val out = Sampling.paddingWaste(docs, "source", "text", 256)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(5), r.getDouble(6))).toMap
    assert(out("a") === ((513L, 3L, 255L, 0.667969)))
    assert(out("b") === ((3L, 1L, 253L, 0.011719)))
  }

  test("temperatureMix: sqrt flattening up-samples small sources") {
    val docs = (1 to 90).map(i => ("big", "w " * 100)) ++
      (1 to 10).map(i => ("small", "w " * 100))
    val out = Sampling.temperatureMix(
        docs.toDF("source", "text"), "source", "text", budgetDocs = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    val (rawB, wB, _) = out("big")
    val (rawS, wS, plannedS) = out("small")
    assert(math.abs(rawB - 0.9) < 1e-6 && math.abs(rawS - 0.1) < 1e-6)
    assert(wS > rawS && wB < rawB, s"flattening: $wS vs $rawS")
    assert(math.abs(wB + wS - 1.0) < 1e-5)
    assert(plannedS >= 20L, s"small source planned $plannedS")
  }
}
