package graft.ops

import graft.SparkSpec

class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  // 4 docs; "shared" appears in all, "pair" in two, others unique.
  private lazy val docs = Seq(
    (0L, "shared pair alpha alpha"),
    (1L, "shared pair beta"),
    (2L, "shared gamma"),
    (3L, "")
  ).toDF("doc_id", "text")

  test("tfIdfTopTerms: hand-computed scores, rank ties break on term asc") {
    val out = Relevance.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    // N = 4 docs (the empty one counts). idf: shared ln(4/3), pair
    // ln(4/2), alpha/beta/gamma ln(4/1).
    val ln = (x: Double) => math.log(x)
    val r6 = (x: Double) => BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.filter(_._1 == 0L).toSeq == Seq(
      (0L, 1, "alpha", 2L, r6(2 * ln(4.0))),  // tf=2 dominates
      (0L, 2, "pair", 1L, r6(ln(2.0)))))
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1, "beta", 1L, r6(ln(4.0))),
      (1L, 2, "pair", 1L, r6(ln(2.0)))))
    assert(out.filter(_._1 == 2L).toSeq == Seq(
      (2L, 1, "gamma", 1L, r6(ln(4.0))),
      (2L, 2, "shared", 1L, r6(ln(4.0 / 3)))))
    // doc 3 has no words -> no rows
    assert(!out.exists(_._1 == 3L))
  }

  test("tfIdfTopTerms: equal scores order by term ascending") {
    val tied = Seq((0L, "bb aa")).toDF("doc_id", "text")
    val out = Relevance.tfIdfTopTerms(tied, "doc_id", "text", k = 2)
      .orderBy("rnk").select("term").as[String].collect().toSeq
    assert(out == Seq("aa", "bb")) // same tf, same idf -> term asc
  }

  test("bm25TopK: hand-computed Lucene-variant scores") {
    val out = Relevance.bm25TopK(docs, "doc_id", "text",
        queryTerms = Seq("PAIR", "pair", "alpha"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // N = 4, avgdl = (4 + 3 + 2 + 0) / 4 = 2.25.
    // df: pair = 2, alpha = 1. Duplicate query terms count once;
    // case-insensitive ("PAIR" == "pair").
    val idf = (df: Int) => math.log((4 - df + 0.5) / (df + 0.5) + 1.0)
    val k1 = 1.2; val b = 0.75
    def contrib(df: Int, tf: Long, dl: Long): Double =
      idf(df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 2.25))
    val r6 = (x: Double) => BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet == Set(0L, 1L)) // only docs containing a query term
    assert(out(0L) == r6(contrib(2, 1, 4) + contrib(1, 2, 4)))
    assert(out(1L) == r6(contrib(2, 1, 3)))
  }

  test("capPerGroup keeps best-n per group, rounded-score rank, tie on id asc") {
    val d = Seq(
      (0L, "a", 0.9), (1L, "a", 0.5), (2L, "a", 0.9), // tie 0.9: keep 0 then 2
      (3L, "b", 0.1)
    ).toDF("doc_id", "source", "q")
    val out = Sampling.capPerGroup(d, "source",
        org.apache.spark.sql.functions.col("q"), "doc_id", n = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(0L, 2L, 3L))
  }

  test("duplicatedNgramStats: occurrence-level fraction, within-doc repeats kept") {
    // 2-grams: doc 0 and 1 share "a b"; doc 0 repeats "a b" twice via
    // "a b a b" -> grams [a b, b a, a b]; doc 2 all-unique grams.
    val d = Seq(
      (0L, "a b a b"),
      (1L, "a b c"),
      (2L, "x y z"),
      (3L, "w") // fewer than n words -> no row
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedNgramStats(d, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 0: grams [a b, b a, a b] -> "a b" df=2 (docs 0,1): 2 of 3 dup
    assert(out(0L) == ((3L, 2L, 0.666667)))
    // doc 1: grams [a b, b c] -> 1 of 2 dup
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(!out.contains(3L))
  }

  test("unigramCrossEntropy: MLE model over the corpus itself, per-doc nats") {
    // corpus tokens: a a a b  -> p(a)=3/4, p(b)=1/4
    val d = Seq(
      (0L, "a a a"), // H = -ln(3/4)
      (1L, "b"),     // H = -ln(1/4)
      (2L, "  "))    // wordless -> no row
      .toDF("doc_id", "text")
    val out = Relevance.unigramCrossEntropy(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) == ((3L, r6(-math.log(0.75)))))
    assert(out(1L) == ((1L, r6(-math.log(0.25)))))
    assert(!out.contains(2L))
    // a mixed doc averages the per-token information content
    val mixed = Seq((0L, "a b"), (1L, "a a")).toDF("doc_id", "text")
    val h = Relevance.unigramCrossEntropy(mixed, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // p(a)=3/4, p(b)=1/4: doc0 H = (ln(4/3)+ln(4))/2
    assert(h(0L) == r6((math.log(4.0 / 3) + math.log(4.0)) / 2))
    assert(h(1L) == r6(math.log(4.0 / 3)))
  }
  test("bigramCrossEntropy: interpolated bigram+unigram backoff, hand-checked") {
    // docs: "a b a b" and "a b c".
    // bigram occurrences: (a b)x3, (b a)x1, (b c)x1 -> c12: ab=3, ba=1, bc=1
    // contexts (head word): a·=3, b·=2; unigram model over the WHOLE
    // corpus (bigram-less docs included): a=3, b=3, c=1, x=1, N=8
    val d = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val out = Relevance.bigramCrossEntropy(d, "doc_id", "text", lambda = 0.9)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lam = 0.9; val om = 1.0 - lam
    val pAB = lam * (3.0 / 3.0) + om * (3.0 / 8.0)
    val pBA = lam * (1.0 / 2.0) + om * (3.0 / 8.0)
    val pBC = lam * (1.0 / 2.0) + om * (1.0 / 8.0)
    // doc0 bigrams: ab, ba, ab; doc1: ab, bc
    assert(out(0L) == ((3L,
      r6(-(2 * math.log(pAB) + math.log(pBA)) / 3.0))))
    assert(out(1L) == ((2L, r6(-(math.log(pAB) + math.log(pBC)) / 2.0))))
    // single-word doc has no bigrams -> no row
    assert(!out.contains(2L))
  }

  test("lexicalStats: exact counts, hapax, ttr, head coverage") {
    // tokens: a a a b b c -> types a,b,c; hapax c; top-2 head a,b = 5/6
    val d = Seq("a a a b", "b c", " ").toDF("text")
    val r = graft.ops.TextAnalysis.lexicalStats(d, "text", topK = 2).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 3L, 1L)))
    assert(r.getDouble(3) == 0.5)       // ttr 3/6
    assert(r.getDouble(4) == 0.333333)  // hapax 1/3
    assert(r.getDouble(5) == 0.833333)  // head 5/6
    // empty corpus: zero counts, null ratios
    val e = graft.ops.TextAnalysis.lexicalStats(
      Seq("   ").toDF("text"), "text").head()
    assert((e.getLong(0), e.getLong(1), e.getLong(2)) == ((0L, 0L, 0L)))
    assert(e.isNullAt(3) && e.isNullAt(4) && e.isNullAt(5))
  }
  test("invertedIndexTopK: salted two-phase equals the direct window") {
    val rnd = new scala.util.Random(3)
    val docs = (1 to 60).map(i => (i.toLong,
      Seq.fill(30)("w" + rnd.nextInt(12)).mkString(" ")))
      .toDF("doc_id", "text")
    for (salts <- Seq(1, 4, 16)) {
      val got = Relevance.invertedIndexTopK(
          docs, "doc_id", "text", k = 3, minDf = 5L, salts = salts)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val direct = Relevance.invertedIndexTopK(
          docs, "doc_id", "text", k = 3, minDf = 5L, salts = 1)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == direct, s"salts=$salts")
      assert(got.nonEmpty && got.forall(_._3 <= 3))
    }
  }

  test("noveltyScores: overlap fraction against a reference set") {
    // corpus doc 1: grams {a b c, b c d}; reference contains 'a b c x'
    // whose grams include 'a b c' -> overlap 1 of 2
    val corpus = Seq((1L, "a b c d"), (2L, "z z z")).toDF("doc_id", "text")
    val ref = Seq(Tuple1("a b c x")).toDF("text")
    val got = graft.ops.Dedup.noveltyScores(corpus, "doc_id", ref, "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((1L, 0L, 1.0))) // 'z z z' gram unseen
  }

  test("charEntropyTable: constant doc exactly 0, uniform pair ln 2") {
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.charEntropyTable(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((4L, 0.0)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) == ((4L, r6(math.log(2.0)))))
    assert(!got.contains(3L))
  }

  test("rrfFuse: hand-computed fused scores, absence contributes nothing") {
    val r6 = (x: Double) => BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l1 = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rnk")
    val l2 = Seq((20L, 1L), (40L, 2L)).toDF("id", "rnk")
    val got = Relevance.rrfFuse(Seq(l1, l2), "id", "rnk", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // 20 is in both lists (ranks 2 and 1) and must fuse on top
    assert(got == Seq(
      (20L, 2L, 1L, r6(1.0 / 62 + 1.0 / 61)),
      (10L, 1L, 1L, r6(1.0 / 61)),
      (40L, 1L, 2L, r6(1.0 / 62)),
      (30L, 1L, 3L, r6(1.0 / 63))))
  }

  test("textRank: symmetric two-node graph stays at 1/2, self-loops dropped") {
    // "x y x y x": edge (x,y) weight 4; "z z z" only self-loops -> no node
    val df = Seq("x y x y x", "z z z").toDF("text")
    val got = Relevance.textRank(df, "text", iterations = 3,
        topK = 10, minEdgeCount = 1L)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // symmetric 2-node graph is a fixed point: r = 0.15/2 + 0.85*r_other
    assert(got == Seq(("x", 0.5), ("y", 0.5)))
  }

  test("textRank: matches a driver-side reference PageRank with per-round 9dp") {
    val texts = Seq(
      "spark shuffles data across the cluster",
      "spark caches data in memory",
      "the cluster schedules spark tasks",
      "tasks read data from memory")
    val df = texts.toDF("text")
    // reference implementation on plain Scala maps, same quantization
    val pairs = texts.flatMap(_.split("\\s+").toSeq.sliding(2).collect {
      case Seq(a, b) if a != b =>
        (Seq(a, b).min, Seq(a, b).max)
    })
    val und = pairs.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 1).toMap
    val directed = und.toSeq.flatMap { case ((u, w), c) =>
      Seq((u, w, c), (w, u, c)) }
    val wout = directed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = wout.keySet.toSeq.sorted
    val n = nodes.size
    def q(x: Double, dp: Int) = BigDecimal(x)
      .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val inflow = directed.groupBy(_._2).view.mapValues(_.map {
        case (u, _, c) => c.toDouble / wout(u) * r(u) }.sum).toMap
      r = nodes.map(v =>
        v -> q(0.15 / n + 0.85 * inflow.getOrElse(v, 0.0), 9)).toMap
    }
    val expected = r.toSeq.map { case (t, s) => (t, q(s, 6)) }
      .sortBy { case (t, s) => (-s, t) }.take(25)
    val got = Relevance.textRank(df, "text", iterations = 3,
        topK = 25, minEdgeCount = 1L)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("textRank: minEdgeCount prunes weak edges") {
    // (a,b) appears twice, (b,c) once -> with minEdgeCount=2 only a,b stay
    val df = Seq("a b", "a b", "b c").toDF("text")
    val got = Relevance.textRank(df, "text", topK = 10, minEdgeCount = 2L)
      .collect().map(_.getString(0)).toSeq
    assert(got.sorted == Seq("a", "b"))
  }

  test("rankBiasedOverlap: identity = 1-p^D, disjoint = 0, hand value") {
    import spark.implicits._
    val d = 10; val p = 0.9
    val a = (1 to d).flatMap(r => Seq((0L, r.toLong, r), (1L, r.toLong, r)))
      .toDF("qid", "id", "rnk")
    // identical lists: every item contributes w(rnk); total = 1 - p^D
    val same = Relevance.rankBiasedOverlap(a, a, d, p)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = BigDecimal(1.0 - math.pow(p, d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(same.values.forall(v => math.abs(v - expected) < 1e-6), same)
    // disjoint lists: zero overlap still emits the query with rbo 0
    val b = (1 to d).map(r => (0L, 100L + r, r)).toDF("qid", "id", "rnk")
    val none = Relevance.rankBiasedOverlap(
      a.where(org.apache.spark.sql.functions.col("qid") === 0), b, d, p)
      .collect()
    assert(none.map(_.getDouble(1)).toSeq == Seq(0.0))
    // hand case, D=2 p=0.5: A=(x,y) B=(y,x) -> X_1=0, X_2=2
    // rbo = (1-p)(p^0*0/1 + p^1*2/2) = 0.25
    val a2 = Seq((0L, 1L, 1), (0L, 2L, 2)).toDF("qid", "id", "rnk")
    val b2 = Seq((0L, 2L, 1), (0L, 1L, 2)).toDF("qid", "id", "rnk")
    val h = Relevance.rankBiasedOverlap(a2, b2, 2, 0.5).collect()
    assert(h.head.getDouble(1) == 0.25, h.toSeq)
  }

  test("rrfFuse: k caps the fused list, ties break on id ascending") {
    val l1 = Seq((5L, 1L), (3L, 1L)).toDF("id", "rnk")
    val l2 = Seq((3L, 1L), (5L, 1L)).toDF("id", "rnk")
    val got = Relevance.rrfFuse(Seq(l1, l2), "id", "rnk", k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L)) // equal scores -> lower id wins the cap
  }

  private def r6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("stupidBackoffScore: all three cascade branches, hand-computed") {
    import org.apache.spark.sql.functions.col
    // Train corpus (t=1): "a b c a b d".
    //   uni: a2 b2 c1 d1 (N=6, V=4); bi: "a b"2 "b c"1 "c a"1 "b d"1;
    //   tri: "a b c" "b c a" "c a b" "a b d" each 1.
    val d = Seq(
      (0L, 1, "a b c a b d"),  // the training doc
      (1L, 0, "a b c"),        // tri hit: S = c3/c12 = 1/2
      (2L, 0, "c a b d"),      // tri hits: 1/1 and 1/2
      (3L, 0, "b c x"),        // double miss -> 0.4^2*(0+1)/10
      (4L, 0, "x b c"),        // tri miss, bi "b c" hit -> 0.4*(1/2)
      (5L, 0, "a b")           // < 3 words -> no row
    ).toDF("doc_id", "t", "text")
    val out = Relevance.stupidBackoffScore(d, "doc_id", "text",
        trainFilter = col("t") === 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1L, 0.0, r6(-math.log(0.5)))))
    assert(out(2L) == ((2L, 0.0,
      r6(-(math.log(1.0) + math.log(0.5)) / 2))))
    assert(out(3L) == ((1L, 1.0, r6(-math.log(0.4 * 0.4 * (1.0 / 10))))))
    assert(out(4L) == ((1L, 1.0, r6(-math.log(0.4 * (1.0 / 2))))))
    assert(!out.contains(5L))
    // the training doc scores too (its own trigrams all hit):
    // S = [1/2, 1/1, 1/1, 1/2] -> mean -ln = ln(2)/2
    assert(out(0L) == ((4L, 0.0, r6(math.log(2.0) / 2))))
  }

  test("stupidBackoffScore: OOV words take the add-one unigram floor") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (0L, 1, "a b c"),     // N=3, V=3
      (1L, 0, "z z z")      // fully OOV: 0.4^2 * (0+1)/(3+3)
    ).toDF("doc_id", "t", "text")
    val out = Relevance.stupidBackoffScore(d, "doc_id", "text",
        trainFilter = col("t") === 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1.0, r6(-math.log(0.4 * 0.4 * (1.0 / 6))))))
  }

  test("duplicatedSpans: overlapping windows merge to maximal spans") {
    // k=3. Docs 0/1 share the verbatim run "q r s t u" (5 tokens ->
    // three overlapping windows -> ONE span of 5). Doc 2 is clean.
    val d = Seq(
      (0L, "q r s t u a1 a2 a3"),
      (1L, "b1 b2 q r s t u"),
      (2L, "c1 c2 c3 c4"),
      (3L, "w1 w2") // < k words
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, "doc_id", "text",
        k = 3, minOccurrences = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out(0L) == ((8L, 1L, 5L, 5L, 0.625)))
    assert(out(1L) == ((7L, 1L, 5L, 5L, r6(5.0 / 7))))
    assert(out(2L) == ((4L, 0L, 0L, 0L, 0.0)))
    // short doc still reported, with zero spans
    assert(out(3L) == ((2L, 0L, 0L, 0L, 0.0)))
  }

  test("duplicatedSpans: within-doc repeats count; disjoint spans split") {
    // Doc 0 repeats its own trigram "p q r" at positions 0 and 3:
    // window ends 0+3=3 and start 3 -> 3 > 3 is false -> ONE merged
    // span covering all 6 tokens (adjacent runs coalesce).
    val rep = Seq((0L, "p q r p q r")).toDF("doc_id", "text")
    val o1 = Dedup.duplicatedSpans(rep, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(2), r.getLong(3))).head
    assert(o1 == ((1L, 6L)))
    // Docs sharing two runs separated by a gap > k -> two spans.
    val d = Seq(
      (0L, "s1 s2 s3 g1 g2 g3 g4 e1 e2 e3"),
      (1L, "s1 s2 s3 h1 h2 h3 h4 e1 e2 e3")
    ).toDF("doc_id", "text")
    val o2 = Dedup.duplicatedSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(o2(0L) == ((2L, 6L, 3L))) // two 3-token spans
    assert(o2(1L) == ((2L, 6L, 3L)))
  }

  test("sourceUnigramKL: hand-computed divergence; uniform mix is zero") {
    // src A tokens: x x y (pA = 2/3, 1/3); src B: x y y y (pB = 1/4,
    // 3/4). Corpus: x3 y4 of 7.
    val d = Seq(
      ("A", "x x y"), ("B", "x y y y")
    ).toDF("source", "text")
    val out = TextAnalysis.sourceUnigramKL(d, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val klA = (2.0 / 3) * math.log((2.0 / 3) / (3.0 / 7)) +
      (1.0 / 3) * math.log((1.0 / 3) / (4.0 / 7))
    val klB = (1.0 / 4) * math.log((1.0 / 4) / (3.0 / 7)) +
      (3.0 / 4) * math.log((3.0 / 4) / (4.0 / 7))
    assert(out("A") == ((3L, 2L, r6(klA))))
    assert(out("B") == ((4L, 2L, r6(klB))))
    // identical sources -> group dist == corpus dist -> KL exactly 0
    val same = Seq(("A", "x y"), ("B", "x y")).toDF("source", "text")
    val z = TextAnalysis.sourceUnigramKL(same, "source", "text")
      .collect().map(_.getDouble(3)).toSeq
    assert(z == Seq(0.0, 0.0))
  }

  test("bm25DenseRerank: recall bounds the rerank, cosine flips the order") {
    // docs 1-3 contain the query term; doc 4 does not (never recalled
    // even though its vector is closest to the query). BM25 order by
    // tf: 2 (x3), 1 (x2), 3 (x1); cosine rerank flips 1 and 2.
    val docs = Seq(
      (1L, "q q a"), (2L, "q q q"), (3L, "q b c"), (4L, "z z z")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1.0, 0.0)),              // query vector
      (1L, Seq(1.0, 0.0)),              // cos 1.0
      (2L, Seq(0.0, 1.0)),              // cos 0.0
      (3L, Seq(1.0, 1.0)),              // cos ~0.707
      (4L, Seq(1.0, 0.0))               // cos 1.0 but never recalled
    ).toDF("vec_id", "embedding")
    val out = Relevance.bm25DenseRerank(docs, "doc_id", "text",
        emb, "vec_id", "embedding", Seq("q"), 0L, recallK = 3, k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1, 1L, 2), (2, 3L, 3), (3, 2L, 1)))
    intercept[IllegalArgumentException] {
      Relevance.bm25DenseRerank(docs, "doc_id", "text",
        emb, "vec_id", "embedding", Seq("q"), 0L, recallK = 2, k = 3)
    }
  }

  test("knBigramScore: all four probability branches, hand-computed") {
    import org.apache.spark.sql.functions.col
    // Train doc "a b a c": bigrams (a,b)1 (b,a)1 (a,c)1.
    //   cv: a->(2,2) b->(1,1); n1pw: a1 b1 c1; n1pp=3, nbg=3; D=0.75.
    // Sanity: P(.|a) sums to 1 over {a,b,c}: .375+.375+.25.
    val d = Seq(
      (0L, 1, "a b a c"), // seen/seen/seen: .375, .5, .375
      (1L, 0, "a b"),     // seen bigram: (1-.75 + .75*2*(1/3))/2 = .375
      (2L, 0, "a x"),     // seen ctx, unseen w: pr0=0 -> eps, oov
      (3L, 0, "x b"),     // unseen ctx, seen w: P_cont(b) = 1/3
      (4L, 0, "x y"),     // both unseen: eps = .75/(3+3), oov
      (5L, 0, "a")        // < 2 words -> no row
    ).toDF("doc_id", "t", "text")
    val out = Relevance.knBigramScore(d, "doc_id", "text",
        trainFilter = col("t") === 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val eps = 0.75 / 6.0
    assert(out(1L) == ((1L, 0.0, r6(-math.log(0.375)))))
    assert(out(2L) == ((1L, 1.0, r6(-math.log(eps)))))
    assert(out(3L) == ((1L, 0.0, r6(-math.log(1.0 / 3)))))
    assert(out(4L) == ((1L, 1.0, r6(-math.log(eps)))))
    assert(!out.contains(5L))
    assert(out(0L) == ((3L, 0.0,
      r6(-(math.log(0.375) + math.log(0.5) + math.log(0.375)) / 3))))
  }

  test("knBigramScore == in-memory reference on random corpora") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0 until 30).map { i =>
      val n = rnd.nextInt(11)
      (i.toLong, i % 2, (0 until n).map(_ => vocab(rnd.nextInt(8)))
        .mkString(" "))
    }
    val d = 0.75
    // train tables from the t==1 docs
    val trainBgs = docs.filter(_._2 == 1).flatMap { case (_, _, t) =>
      val ws = t.split("\\s+").filter(_.nonEmpty)
      ws.zip(ws.drop(1))
    }
    val cvw = trainBgs.groupBy(identity).view.mapValues(_.size).toMap
    val cv = trainBgs.groupBy(_._1).view.mapValues(_.size).toMap
    val n1pv = cvw.keys.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val n1pw = cvw.keys.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    val n1pp = cvw.size
    val nbg = trainBgs.size
    val got = Relevance.knBigramScore(docs.toDF("doc_id", "t", "text"),
        "doc_id", "text", trainFilter = col("t") === 1, discount = d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    var rowsChecked = 0
    docs.foreach { case (id, _, t) =>
      val ws = t.split("\\s+").filter(_.nonEmpty)
      val bgs = ws.zip(ws.drop(1))
      if (bgs.isEmpty) assert(!got.contains(id))
      else {
        rowsChecked += 1
        val prs = bgs.map { case (v, u) =>
          val pcont = n1pw.getOrElse(u, 0).toDouble / n1pp
          val pr0 =
            if (cv.contains(v))
              (math.max(cvw.getOrElse((v, u), 0) - d, 0.0) +
                d * n1pv(v) * pcont) / cv(v)
            else if (n1pw.contains(u)) pcont
            else -1.0 // stands for NULL
          val oov = !cvw.contains((v, u)) && !n1pw.contains(u)
          val pr = if (pr0 <= 0.0) d / (nbg + n1pp).toDouble else pr0
          (pr, oov)
        }
        val expScore = -prs.map(p => math.log(p._1)).sum / bgs.size
        val expFrac = prs.count(_._2).toDouble / bgs.size
        val (gn, gf, gs) = got(id)
        assert(gn == bgs.size.toLong, s"doc $id n")
        assert(math.abs(gf - expFrac) < 1.1e-6, s"doc $id frac")
        assert(math.abs(gs - expScore) < 1.1e-6, s"doc $id score")
      }
    }
    assert(rowsChecked > 20)
  }

  test("knBigramScore: seen-context distribution sums to 1 over vocab") {
    import org.apache.spark.sql.functions.col
    // Probe every vocab word after context "a"; total mass must be 1
    // (the interpolated-KN invariant: discount mass redistributed via
    // P_cont exactly covers the continuation).
    val d = Seq(
      (0L, 1, "a b a c"),
      (1L, 0, "a a"), (2L, 0, "a b"), (3L, 0, "a c")
    ).toDF("doc_id", "t", "text")
    val pr = Relevance.knBigramScore(d, "doc_id", "text", col("t") === 1)
      .collect().collect { case r if r.getLong(0) > 0 =>
        math.exp(-r.getDouble(3)) }.sum
    assert(math.abs(pr - 1.0) < 1e-6, s"mass $pr")
  }
}
