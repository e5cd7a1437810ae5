package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content here with words"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "zz")                                           // shorter than shingle k
  ).toDF("doc_id", "text")

  test("winnowFingerprints: differential vs in-memory winnowing, gap bound") {
    // 24 pseudo-random docs over a small vocabulary (seeded, deterministic)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (0L until 24L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val (k, w) = (3, 4)
    val out = Dedup.winnowFingerprints(corpus, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // in-memory reference: same md5-prefix hash, min-of-window with
    // rightmost tie-break, distinct
    def h28(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 7), 16)
    }
    val expected = corpus.collect().flatMap { r =>
      val id = r.getLong(0)
      val ws = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val hs = ws.sliding(k).map(_.mkString(" ")).map(h28).toArray
      (w - 1 until hs.length).flatMap { p =>
        val win = (p - w + 1) to p
        val m = win.map(hs).min
        val sel = win.filter(q => hs(q) == m).max // rightmost minimal
        Some((id, sel.toLong, m))
      }
    }.toSet
    assert(out == expected)
    // winnowing gap property: consecutive selected positions differ <= w
    val gaps = out.groupBy(_._1).values.flatMap { fps =>
      val ps = fps.map(_._2).toSeq.sorted
      ps.zip(ps.drop(1)).map { case (a, b) => b - a }
    }
    assert(gaps.forall(_ <= w))
    intercept[IllegalArgumentException] {
      Dedup.winnowFingerprints(corpus, "doc_id", "text", k, 0)
    }
    // winnowing is document-local: the fingerprint table must plan as a
    // pure map (no Exchange anywhere — the WinnowExpr design point)
    val plan = Dedup.winnowFingerprints(corpus, "doc_id", "text", k, w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("winnowSharedSpans: guarantee catches planted span; df guard drops boilerplate") {
    val (k, w) = (4, 4) // guarantee threshold = w + k - 1 = 7 tokens
    val span = "one two three four five six seven"
    val corpus = Seq(
      (0L, s"aa bb cc $span dd ee ff gg hh"),
      (1L, s"xx yy zz qq $span rr ss tt uu"),
      (2L, "totally unrelated words live in this document body here"),
      // 3..9 share a boilerplate sentence -> its fingerprints exceed maxDf=4
      (3L, "copyright footer text appears in every single page here aa"),
      (4L, "copyright footer text appears in every single page here bb"),
      (5L, "copyright footer text appears in every single page here cc"),
      (6L, "copyright footer text appears in every single page here dd"),
      (7L, "copyright footer text appears in every single page here ee"),
      (8L, "copyright footer text appears in every single page here ff"),
      (9L, "copyright footer text appears in every single page here gg")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowSharedSpans(corpus, "doc_id", "text", k, w,
        minShared = 1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 7-token planted span MUST be caught (winnowing guarantee)
    assert(pairs.contains((0L, 1L)))
    // the 7-doc boilerplate family's shared fingerprints all have df = 7
    // > maxDf, so no pair among 3..9 survives the guard
    assert(!pairs.exists { case (i, j) => i >= 3L && j >= 3L })
  }

  test("winnowContamination: full benchmark copy = coverage 1.0; repetition can't inflate") {
    val (k, w) = (4, 4)
    val benchText = (1 to 20).map(n => s"bench$n").mkString(" ")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      // doc 0 contains the WHOLE benchmark verbatim -> every benchmark
      // fingerprint selected in doc 0's copy region... but selections
      // depend on surrounding context, so assert coverage high, not 1.0
      (0L, s"aa bb cc $benchText dd ee"),
      // doc 1 contains it TWICE: distinct-hash counting caps coverage at 1
      (1L, s"$benchText xx yy $benchText"),
      (2L, "totally unrelated content with different words entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowContamination(corpus, bench, "doc_id", "text",
        k, w, minCoverage = 0.0, maxDf = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.contains(0L) && out(0L)._3 >= 0.5)
    // the doubled copy may select more context-boundary fingerprints but
    // coverage counts DISTINCT shared hashes over the benchmark's own set
    assert(out(1L)._3 <= 1.0 && out(1L)._1 <= out(1L)._2)
    assert(!out.contains(2L))
    // a pure-copy benchmark == corpus doc text gives exactly 1.0
    val exact = Dedup.winnowContamination(
      Seq((5L, benchText)).toDF("doc_id", "text"), bench,
      "doc_id", "text", k, w, minCoverage = 0.0, maxDf = 8).head()
    assert(exact.getDouble(4) == 1.0)
  }

  test("winnowAlignedSpans: one copied run = one diagonal; swapped runs = two") {
    val (k, w) = (4, 4)
    val run = (1 to 16).map(n => s"run$n").mkString(" ") // 16-token copy
    val r1 = (1 to 8).map(n => s"red$n").mkString(" ")
    val r2 = (1 to 8).map(n => s"blue$n").mkString(" ")
    val corpus = Seq(
      (0L, s"aa bb cc dd $run ee ff gg hh"),
      (1L, s"xx yy $run zz qq rr ss tt uu vv"),
      // same two runs, ORDER swapped -> two alignment diagonals
      (2L, s"k1 k2 k3 $r1 k4 k5 k6 $r2 k7 k8"),
      (3L, s"m1 m2 $r2 m3 m4 m5 m6 m7 $r1 m8")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowAlignedSpans(corpus, "doc_id", "text", k, w,
        minShared = 1, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // copied-run pair: every match comes from the single shared run, so
    // all matches sit on ONE diagonal and the span fits inside the run
    val cp = out((0L, 1L))
    assert(cp.getLong(4) == 1L) // n_diags
    assert(cp.getLong(5) == cp.getLong(3)) // best diag carries all matches
    assert(cp.getLong(6) >= k && cp.getLong(6) <= 16L) // span within run
    // swapped-runs pair: the two runs align at different offsets
    val sw = out((2L, 3L))
    assert(sw.getLong(4) == 2L) // n_diags
    assert(sw.getLong(6) <= 8L) // best span bounded by a single run
    // unrelated pairs absent
    assert(!out.contains((0L, 2L)) && !out.contains((1L, 3L)))
  }

  test("exactDedup keeps one row per key, smallest keepBy") {
    val out = Dedup.exactDedup(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("lineDedup removes corpus-frequent lines, preserves order, keeps empty docs") {
    // "boiler" appears in 3 distinct docs (doc 3 has it TWICE — document
    // frequency must count it once); "unique N" lines appear in one doc
    val corpus = Seq(
      (0L, "unique a\nboiler\nunique b"),
      (1L, "boiler\nunique c"),
      (2L, "unique d"),
      (3L, "boiler\nboiler"), // every line boilerplate -> cleaned = ""
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(corpus, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == (("unique a\nunique b", 3L, 2L, 1L))) // order kept
    assert(out(1L) == (("unique c", 2L, 1L, 1L)))
    assert(out(2L) == (("unique d", 1L, 1L, 0L)))
    assert(out(3L) == (("", 2L, 0L, 2L))) // fully-boilerplate doc survives
    assert(out(4L) == (("", 1L, 1L, 0L))) // null text = one empty line, kept
  }

  test("lineDedup document frequency is distinct-doc based") {
    // "dup" repeats 5x inside ONE doc: within-doc repeats must not push
    // it over a minDocs=2 threshold
    val corpus = Seq(
      (0L, "dup\ndup\ndup\ndup\ndup"),
      (1L, "other line")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(corpus, "doc_id", "text", minDocs = 2)
      .where(col("doc_id") === 0L).head()
    assert(out.getString(1) == "dup\ndup\ndup\ndup\ndup")
    assert(out.getLong(4) == 0L)
  }

  test("mixStats: shares sum to 1, uniform weight equalizes token mass") {
    val corpus = Seq(
      (0L, "a b c d", "s1"), (1L, "a b", "s1"),   // s1: 6 tokens
      (2L, "a b c", "s2"),                        // s2: 3 tokens
      (3L, "", "s3")                              // s3: 0 tokens
    ).toDF("doc_id", "text", "source")
    val out = Sampling.mixStats(corpus, "source",
      TextAnalysis.nTokensWhitespace(col("text")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out("s1") == ((2L, 6L, 0.5, 0.666667, Some(0.5)))) // 6dp round
    assert(out("s2") == ((1L, 3L, 0.25, 0.333333, Some(1.0))))
    assert(out("s3")._5.isEmpty) // zero-token stratum: no defined weight
    // uniform target: every group at t_tokens/n_groups = 3 tokens
    assert(out("s1")._5.get * 6 == 3.0 && out("s2")._5.get * 3 == 3.0)
  }

  test("packChunks: next-fit boundaries, per-doc reset, at-most-one-chunk overflow") {
    // doc 0: tokens 50,50,50,30 with budget 100 -> packs 0,0,1,1
    // (pack 0 overflows to 100+? no: before=0,50,100,150 -> floor/100 = 0,0,1,1)
    // doc 1 restarts at pack 0
    val chunks = Seq(
      (0L, 0, 50L), (0L, 1, 50L), (0L, 2, 50L), (0L, 3, 30L),
      (1L, 0, 120L), (1L, 1, 10L)
    ).toDF("doc_id", "chunk_id", "n_words")
    val out = TextAnalysis.packChunks(chunks, "doc_id", "chunk_id",
      "n_words", budget = 100)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(3)).toMap
    assert(out((0L, 0)) == 0 && out((0L, 1)) == 0)
    assert(out((0L, 2)) == 1 && out((0L, 3)) == 1)
    assert(out((1L, 0)) == 0) // oversize chunk still gets its own pack 0
    assert(out((1L, 1)) == 1) // next chunk starts pack 1 (120 >= budget)
  }

  test("semDedupPairs: within-cluster pairs found, cross-cluster misses documented") {
    // two well-separated directions; ids 0,1 near +x, ids 2,3 near +y,
    // id 4 sits between x and y but nearer x (cos 0.9 with x-axis)
    def vec(xs: Double*) = xs.toArray
    val vs = Seq(
      (0L, vec(1.0, 0.0, 0.0)), (1L, vec(0.99, 0.05, 0.0)),
      (2L, vec(0.0, 1.0, 0.0)), (3L, vec(0.05, 0.99, 0.0)),
      (4L, vec(0.95, 0.31, 0.0)) // cos with +x ~ 0.951, with +y ~ 0.310
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, vec(1.0, 0.0, 0.0)), (1L, vec(0.0, 1.0, 0.0)))
      .toDF("list_id", "centroid")
    val pairs = Dedup.semDedupPairs(vs, "vec_id", "embedding", cents, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0-1 and 2-3 are same-cluster near-dups; 0-4/1-4 are near-dups
    // (cos > 0.9) in the same x-cluster; 4 vs y-cluster is pruned by
    // assignment even though its cos with 3 is below threshold anyway
    assert(pairs.contains((0L, 1L)) && pairs.contains((2L, 3L)))
    assert(pairs.contains((0L, 4L)) && pairs.contains((1L, 4L)))
    // no cross-cluster pair reported at all
    assert(pairs.forall { case (i, j) =>
      (Set(0L, 1L, 4L)(i) && Set(0L, 1L, 4L)(j)) ||
        (Set(2L, 3L)(i) && Set(2L, 3L)(j)) })
  }

  test("connectedComponents: chains collapse, clusters labeled by min id") {
    // component {1,2,3,4} only via a CHAIN (diameter 3 — needs multiple
    // propagation iterations), component {10,11}, and 2-3 reversed to
    // check symmetrization; nodes not in any pair don't appear
    val pairs = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val cc = Dedup.connectedComponents(pairs, "i", "j")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // canonical selection: keep doc_id == component -> one survivor/group
    assert(cc.count { case (n, c) => n == c } == 2)
  }

  test("connectedComponents on empty pair list is empty, no iteration blowup") {
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Dedup.connectedComponents(empty, "i", "j").collect().isEmpty)
  }

  test("contaminationPairs finds planted eval overlap, benchmark broadcast") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "one two three four five six seven eight"),
      (2L, "totally unrelated words that overlap with nothing else at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "xx one two three four five six seven yy") // 5-gram overlap with 1
    ).toDF("bench_id", "text")
    val out = Dedup.contaminationPairs(corpus, "doc_id", bench, "bench_id",
      "text", 5, minShared = 1)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet == Set((1L, 100L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side should broadcast:\n$plan")
  }

  test("stratifiedHashSample: per-stratum rates, deterministic, subset of full") {
    val corpus = (0L until 2000L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "fr"))
      .toDF("id", "lang")
    val s1 = Sampling.stratifiedHashSample(corpus, "id", "lang",
      Map("en" -> 50, "de" -> 10), defaultPct = 0)
    val rows = s1.collect().map(r => (r.getLong(0), r.getString(1)))
    // defaultPct=0: no stratum outside the map survives
    assert(rows.forall(_._2 != "fr"))
    // rates land near nominal (hash is uniform; 500 candidates/stratum)
    val en = rows.count(_._2 == "en"); val de = rows.count(_._2 == "de")
    assert(en > 200 && en < 300, s"en kept $en of 500 at 50%")
    assert(de > 20 && de < 80, s"de kept $de of 500 at 10%")
    // deterministic: same rows on re-run
    val again = Sampling.stratifiedHashSample(corpus, "id", "lang",
      Map("en" -> 50, "de" -> 10), defaultPct = 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == again.toSet)
    // consistent with the unstratified sampler: a stratum at pct p keeps
    // EXACTLY the rows plain hashSample(p) keeps (same hash family)
    val plain = Sampling.hashSample(corpus.where($"lang" === "en"), "id", 50)
      .collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._2 == "en").map(_._1).toSet == plain)
  }

  test("splitAssign: partition of rows, near-nominal, hash-consistent") {
    val df = (0L until 2000L).toDF("id")
    val s = Sampling.splitAssign(df, "id", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(s.length == 2000) // every row assigned exactly one split
    val byS = s.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byS("train") > 1500 && byS("train") < 1700, byS.toString)
    assert(byS("val") > 140 && byS("val") < 260, byS.toString)
    assert(byS("test") > 140 && byS("test") < 260, byS.toString)
    // train == exactly hashSample(80)'s rows (same family, same bucket)
    val plain = Sampling.hashSample(df, "id", 80)
      .collect().map(_.getLong(0)).toSet
    assert(s.filter(_._2 == "train").map(_._1).toSet == plain)
    // stability: membership is a pure function of the key — a subset
    // of the data assigns identically
    val sub = Sampling.splitAssign(df.where($"id" < 500), "id", 80, 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s.filter(_._1 < 500).forall { case (k, v) => sub(k) == v })
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(df, "id", 95, 10) // 105 > 100
    }
  }

  test("weightedHashSample: rates scale with weight, deterministic") {
    val df = (0L until 3000L).map(i => (i, i % 3)).toDF("id", "g")
    // weight 0 drops all, 1 keeps all
    assert(Sampling.weightedHashSample(df, "id", lit(0.0)).count() == 0)
    assert(Sampling.weightedHashSample(df, "id", lit(1.0)).count() == 3000)
    // per-row weight: g=0 -> 0.1, g=1 -> 0.5, g=2 -> 0.9
    val w = when($"g" === 0, 0.1).when($"g" === 1, 0.5).otherwise(0.9)
    val kept = Sampling.weightedHashSample(df, "id", w)
      .groupBy("g").count().collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(kept(0L) > 60 && kept(0L) < 140, s"g0 kept ${kept(0L)}/1000 at 10%")
    assert(kept(1L) > 430 && kept(1L) < 570, s"g1 kept ${kept(1L)}")
    assert(kept(2L) > 840 && kept(2L) < 960, s"g2 kept ${kept(2L)}")
    // deterministic re-run
    val a = Sampling.weightedHashSample(df, "id", w).collect().map(_.getLong(0))
    val b = Sampling.weightedHashSample(df, "id", w).collect().map(_.getLong(0))
    assert(a.toSet == b.toSet)
  }

  test("topMassPerGroup: smallest best-score prefix covering the mass") {
    val df = Seq(
      // group a: scores 10,5,3,2 (total 20) -> half-mass 10: keep just the 10
      ("a", 1L, 10L), ("a", 2L, 5L), ("a", 3L, 3L), ("a", 4L, 2L),
      // group b: 4,4,4 (total 12) -> cumBefore 0,4,8; keep rows with 2*cb<12
      ("b", 5L, 4L), ("b", 6L, 4L), ("b", 7L, 4L))
      .toDF("g", "id", "score")
    val kept = Sampling.topMassPerGroup(df, "g", "score", "id", 1, 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 5L, 6L))
    // num/den = 1/1 keeps everything
    assert(Sampling.topMassPerGroup(df, "g", "score", "id", 1, 1)
      .count() == 7)
  }

  test("dedupByNearDupClusters keeps min-id per cluster + untouched rows") {
    val corpus = (0L to 6L).map(i => (i, s"body$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 2L), (5L, 6L)).toDF("i", "j")
    val kept = Dedup.dedupByNearDupClusters(corpus, "doc_id", pairs, "i", "j")
      .select("doc_id").as[Long].collect().sorted
    // cluster {1,2,3} -> keep 1; {5,6} -> keep 5; 0 and 4 untouched
    assert(kept.toSeq == Seq(0L, 1L, 4L, 5L))
    // a null id matches no cluster and is kept; the columns are docs'
    val withNull = corpus.union(Seq[(Option[Long], String)]((None, "orphan"))
      .toDF("doc_id", "text"))
    val out = Dedup.dedupByNearDupClusters(withNull, "doc_id", pairs, "i", "j")
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.collect().map(r => Option(r.get(0)) -> r.getString(1)).toSet ==
      Set(Some(0L) -> "body0", Some(1L) -> "body1", Some(4L) -> "body4",
        Some(5L) -> "body5", None -> "orphan"))
  }

  test("ngramJaccardPairs finds the exact and near duplicate") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = pairs.find(p => p._1 == 0 && p._2 == 3).get
    assert(exact._3 == 1.0)
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 > 0.5))
    assert(!pairs.exists(p => p._2 == 2 || p._1 == 2))
  }

  test("minhash signatures: identical docs identical, near-dups mostly equal") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(sig(0L) == sig(3L))
    val agree = sig(0L).zip(sig(1L)).count { case (a, b) => a == b }
    assert(agree >= 8, s"only $agree/16 minhashes agree for near-dups")
    assert(!sig.contains(4L)) // too short for shingles
  }

  test("minhash LSH end-to-end finds dup pairs and verifies jaccard") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((0L, 3L)))
  }

  test("minhash LSH degenerate-bucket cap skips pathological buckets") {
    import spark.implicits._
    // 12 identical docs -> every band bucket holds all 12: uncapped
    // that's 66 candidate pairs; a cap below 12 must skip them all
    val clones = (0L until 12L).map(i => (i, "the same boilerplate text "
      + "repeated over and over for every single document"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(clones, "doc_id", "text", 3, 16)
    assert(Dedup.minhashLshPairs(sig, 4, 4).count() == 66)
    assert(Dedup.minhashLshPairs(sig, 4, 4, maxBucket = 11).count() == 0)
    // cap at exactly the bucket size keeps them (boundary inclusive)
    assert(Dedup.minhashLshPairs(sig, 4, 4, maxBucket = 12).count() == 66)
    // the skipped-bucket ledger makes the drop observable: all 4 band
    // buckets (size 12) are reported under the cap that skipped them,
    // and none under the cap that kept them
    val skipped = Dedup.minhashLshSkippedBuckets(sig, 4, 4, maxBucket = 11)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(skipped.length == 4 && skipped.forall(_._2 == 12L))
    assert(Dedup.minhashLshSkippedBuckets(sig, 4, 4, maxBucket = 12)
      .count() == 0)
  }

  test("simhash combo keys: same verified pairs as one-block, m=1 degenerate case") {
    // exact recall from both pigeonhole schemes at the same radius:
    // the verified (i, j, hamming) sets must be identical
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val one = pairSet(Dedup.simhashNearDupPairs(
      docs, "doc_id", "text", bits = 64, blocks = 4, maxHamming = 3))
    val multi = pairSet(Dedup.simhashNearDupPairsCombos(
      docs, "doc_id", "text", bits = 64, blocks = 8, maxHamming = 3))
    assert(multi === one)
    // blocks = maxHamming + 1 makes m = 1: the combo scheme IS the
    // one-block scheme (same block count and width)
    val degenerate = pairSet(Dedup.simhashNearDupPairsCombos(
      docs, "doc_id", "text", bits = 64, blocks = 4, maxHamming = 3))
    assert(degenerate === one)
    // radius >= blocks is rejected (pigeonhole has no guarantee there)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsCombos(docs, "doc_id", "text",
        bits = 64, blocks = 4, maxHamming = 4)
    }
  }

  test("simhash: exact dups equal, near-dups close in hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) < hamming(sh(0L), sh(2L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine") {
    val out = Similarity.bruteForceTopK(
      vecs.where($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rnk")))
    assert(out.toSeq.sortBy(_._2).map(_._1) == Seq(1L, 2L))
  }

  test("srpBandBuckets: same vector same buckets, deterministic") {
    val b1 = Similarity.srpBandBuckets(vecs, "vec_id", "embedding", 8, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val b2 = Similarity.srpBandBuckets(vecs, "vec_id", "embedding", 8, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(b1 == b2) // no RNG state — reproducible
  }

  /** Deterministic planted-near-dup corpus: nBase isotropic 64-dim
    * vectors, the first nDups of which get a perturbed copy at cosine
    * ~0.97 (>= 0.85 with huge margin). Null pair cosines concentrate at
    * sd = 1/8, so with ~40k pairs nothing random reaches 0.8: the
    * expected near-dup output at t = 0.8 is EXACTLY the planted pairs. */
  private def plantedVectors(nBase: Int, nDups: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    def gauss64() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until nBase).map(i => (i.toLong, gauss64()))
    val dups = (0 until nDups).map { i =>
      val v = base(i)._2
      val g = gauss64()
      ((nBase + i).toLong, v.zip(g).map { case (x, n) => x + 0.25f * n })
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  test("lshNearDupPairs: bit-identical to all-pairs on planted near-dups, no cartesian") {
    val emb = plantedVectors(260, 20, seed = 42).repartition(8)
    val lsh = Dedup.lshNearDupPairs(emb, "vec_id", "embedding", 0.8)
    // scale shape: candidates come from equi-joins only
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "LSH near-dup plan must not contain a cross join")
    val got = lsh.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.size == 20, s"expected exactly the 20 planted pairs, got ${want.size}")
    assert(got == want, s"recall/precision mismatch: missed=${want -- got} extra=${got -- want}")
  }

  test("lshCandidatePairs is SELECTIVE: < 5% of all pairs on random vectors") {
    // recall parity alone can hide a degenerate LSH that emits every
    // pair as a candidate (the round-2 t=0.4 failure mode) — assert the
    // candidate-set SIZE, on data with no planted structure at all
    val n = 400
    val emb = plantedVectors(n, 0, seed = 7).repartition(8)
    val cand = Dedup.lshCandidatePairs(emb, "vec_id", "embedding", 14, 192).count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(cand < allPairs * 0.05,
      s"candidate set degenerated: $cand of $allPairs pairs (${100.0 * cand / allPairs}%)")
  }

  test("lshNearDupPairs on real embeddings agrees with all-pairs at t=0.8") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Dedup.lshNearDupPairs(emb, "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the driver data has no planted embedding dups: the correct answer
    // is empty, and LSH must agree with the exact form on that
    assert(got == want)
  }

  test("srpBandBuckets preserves non-numeric id types") {
    val named = Seq(
      ("doc-a", Array(1.0f, 0.0f, 0.0f)),
      ("doc-b", Array(0.99f, 0.14f, 0.0f)),
      ("doc-c", Array(0.0f, 1.0f, 0.0f))
    ).toDF("name", "embedding")
    // a cast-to-long would null every id and silently yield zero pairs
    val pairs = Dedup.lshNearDupPairs(named, "name", "embedding", 0.8,
        planesPerBand = 4, bands = 64)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("doc-a", "doc-b")))
  }

  test("srpBandBuckets skips null embeddings instead of failing the job") {
    val withNull = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.srpBandBuckets(withNull, "vec_id", "embedding", 4, 2)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 3L)) // null row dropped
    assert(out.length == 4) // 2 ids x 2 bands
  }

  test("lshTopK: banded SRP recall — planted near-dups found like brute force") {
    // 20 planted pairs at cosine ~0.97: per-pair band collision prob
    // 1-(1-p^8)^8 ~ 0.997 at p ~ 0.92, and the hash family is
    // deterministic, so the outcome is fixed for this seed. The exact
    // scorer then must agree with brute force on every found pair.
    val emb = plantedVectors(260, 20, seed = 42).repartition(8)
    val probes = emb.where($"vec_id" < 20)
    val lsh = Similarity.lshTopK(probes, emb, "vec_id", "embedding", 1,
      planesPerBand = 8, bands = 8)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    val bf = Similarity.bruteForceTopK(probes, emb, "vec_id", "embedding", 1)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toMap
    // every probe's true top-1 is its planted dup; LSH must find >= 18/20
    // and agree with brute force exactly on what it finds
    (0 until 20).foreach(i => assert(bf(i.toLong)._1 == (260 + i).toLong))
    val hits = lsh.count { case (q, res) => bf(q) == res }
    assert(hits >= 18, s"lshTopK recall too low: $hits/20 brute-force matches")
  }

  test("lshTopK plan: no cartesian product, probe side broadcast") {
    // the scale contract: candidates come from the (band, bucket) hash
    // join — a CartesianProduct anywhere means the LSH did nothing, and
    // the probe bucket/vector tables must join as broadcasts
    val emb = plantedVectors(100, 5, seed = 7)
    val plan = Similarity.lshTopK(emb.where($"vec_id" < 3), emb,
      "vec_id", "embedding", 1).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("knnGraph: exact directed top-k by cosine, id tie-break") {
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(pts, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // node 1's neighbors by cosine: 2 (.994), 4 (.110), 3 (0)
    assert(g((1L, 1)) == 2L && g((1L, 2)) == 4L && g((1L, 3)) == 3L)
    assert(g.size == 12) // 4 nodes x k=3, no self edges
  }

  test("knnGraph plan: blocked scan — no shuffle, no join, spread wide") {
    // the blocked formulation's contract: corpus in ONE broadcast,
    // probe indices pre-split at the Range leaf (parallelism without a
    // repartition exchange), scoring streamed through mapPartitions —
    // nothing in the plan can shuffle, hash-aggregate, or spill
    val pts = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").coalesce(1)
    val g = Similarity.knnGraph(pts, "vec_id", "embedding", k = 1)
    val plan = g.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Aggregate"), s"unexpected aggregation:\n$plan")
    assert(plan.contains("MapPartitions"), s"no mapPartitions:\n$plan")
    // n=2 probes at local[4]: the Range leaf is pre-split into 2 tasks
    assert(g.rdd.getNumPartitions == 2,
      s"probe side not spread: ${g.rdd.getNumPartitions}")
  }

  test("knnGraph: non-integral id type fails loudly, not silently empty") {
    // ADVICE r10: the long-keyed ranking would silently drop every row
    // whose id casts to null — a string-id corpus must ERROR instead
    val pts = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnGraph(pts, "vec_id", "embedding", k = 1)
    }
    assert(e.getMessage.contains("integral type"), e.getMessage)
    assert(e.getMessage.contains("surrogate"), e.getMessage)
  }

  test("knnGraph: duplicate ids never emitted as their own neighbor") {
    // ADVICE r11: the blocked rewrite excluded self-pairs by row INDEX
    // only, so a corpus with duplicate ids emitted the duplicate row as
    // its own top neighbor (cos=1.0) — bruteForceTopK filters on id
    // equality and this path must agree
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), // dup id
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(pts, "vec_id", "embedding", k = 2)
      .collect()
    assert(g.forall(r => r.getLong(0) != r.getLong(2)),
      s"self edge through a duplicate id:\n${g.mkString("\n")}")
    // both copies of id 1 still rank the others: top neighbor is 2
    val top1 = g.filter(r => r.getLong(0) == 1L && r.getInt(1) == 1)
    assert(top1.nonEmpty && top1.forall(_.getLong(2) == 2L))
  }

  test("mutualKnnPairs: only reciprocal edges survive, i < j once") {
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.mutualKnnPairs(pts, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // each planted pair is mutually nearest; cross-pair edges are not
    assert(pairs.sorted == Seq((1L, 2L), (3L, 4L)))
  }

  test("oneNnLabelAgreement: noisy label shows as disagreement") {
    val pts = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1),
      (5L, Array(0.95f, 0.05f), 1)) // sits inside class 0's cluster
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.oneNnLabelAgreement(
        pts, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // label 0's two vectors both have 1-NN = the planted noisy point
    // (label 1) -> 0 agreement; label 1: v3<->v4 agree, v5's NN is
    // class 0 -> 2/3
    assert(got(0) == ((2L, 0L, 0.0)))
    assert(got(1) == ((3L, 2L, 0.666667)))
  }

  test("text analysis: langId picks stopword language, counts deterministic") {
    val df = Seq(
      (0L, "the cat and the dog in the house"),
      (1L, "der Hund und die Katze ist nicht da"),
      (2L, "xyzzy plugh")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.analyze(df, "text")
      .select("doc_id", "lang_pred", "n_tokens_ws", "quality_score")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(0L) == "en")
    assert(out(1L) == "de")
    assert(out(2L) == "und")
  }

  test("chunkWords: overlap invariants, min-new-words bound, empty docs dropped") {
    val docs2 = Seq(
      (1L, (1 to 25).map(i => s"w$i").mkString(" ")), // 25 words
      (2L, "a b c"),                                   // shorter than chunk
      (3L, "   ")                                      // whitespace-only
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkWords(docs2, "doc_id", "text",
        chunkSize = 10, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(!out.exists(_._1 == 3L)) // empty doc yields no chunks
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 3, "a b c")))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // stride 7: starts 0,7,14,21 (start+overlap < len) — every chunk has
    // >= overlap+1 words and contributes >= 1 word no earlier chunk has
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(d1.map(_._3).toSeq == Seq(10, 10, 10, 4))
    // consecutive chunks share exactly `overlap` words
    val c0 = d1(0)._4.split(" "); val c1 = d1(1)._4.split(" ")
    assert(c0.takeRight(3).sameElements(c1.take(3)))
    // every word appears in some chunk (coverage)
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert((1 to 25).forall(i => covered.contains(s"w$i")))
  }

  test("wordShingleTableCached memoizes per (input, n) and stays correct") {
    val first = Dedup.wordShingleTableCached(docs, "doc_id", "text", 3)
    val second = Dedup.wordShingleTableCached(docs, "doc_id", "text", 3)
    assert(first eq second) // same materialized table, no rebuild
    val other = Dedup.wordShingleTableCached(docs, "doc_id", "text", 2)
    assert(!(first eq other)) // different n = different state
    // cached output == uncached output
    val plain = Dedup.wordShingleTable(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val cached = first
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(cached == plain)
    // downstream ops accept the checkpointed table without re-checkpoint
    val pairs = Dedup.jaccardPairs(first, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 3L)))
  }

  test("waterfillAllocation: cap bites only the giants, budget is met") {
    // tokens per source: a=10, b=20, c=70; budget = 0.5 * 100 = 50.
    // keep a (10) and b (20) whole; cap c at 50 - 30 = 20.
    val rows = (1 to 10).map(i => ("a", 1)) ++
      (1 to 10).map(i => ("b", 2)) ++ (1 to 10).map(i => ("c", 7))
    val df = rows.toDF("source", "tk")
    val got = Sampling.waterfillAllocation(df, "source", col("tk"), 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getDouble(3)))).toMap
    assert(got("a") == ((10L, false, 10.0)))
    assert(got("b") == ((20L, false, 20.0)))
    assert(got("c") == ((70L, true, 20.0)))
  }

  test("waterfillAllocation: budget >= total leaves everything uncapped") {
    val df = Seq(("a", 5), ("b", 7)).toDF("source", "tk")
    val got = Sampling.waterfillAllocation(df, "source", col("tk"), 1.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(got == Map("a" -> false, "b" -> false))
  }

  test("containmentPairs: subset detected one-way, Jaccard would miss it") {
    // doc 0's shingles all appear inside doc 1; doc 1 is much larger,
    // so J(0,1) is small but C(0->1) = 1
    val d = Seq(
      (0L, "a b c d e"), // 5-word doc: three 3-gram shingles
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "z y x w v u t")) // unrelated
      .toDF("doc_id", "text")
    val sh = Dedup.wordShingleTable(d, "doc_id", "text", 3)
    val got = Dedup.containmentPairs(sh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.keySet == Set((0L, 1L))) // directed: only 0 into 1
    assert(got((0L, 1L)) == 1.0)
    // the symmetric Jaccard join at the same threshold finds nothing
    assert(Dedup.jaccardPairs(sh, 0.8).count() == 0)
  }

  test("repetition signals: duplicate-bigram fraction and gopher filter") {
    val df = Seq(
      (0L, "spam spam spam spam spam"),          // all bigrams identical
      (1L, "one two three four five six seven"), // no repeats
      (2L, "ab")                                 // below min word count
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_2grams"), r.getAs[Long]("n_distinct_2grams"),
          r.getAs[Double]("dup_2gram_frac"), r.getAs[Boolean]("keep")))).toMap
    assert(out(0L) == ((4L, 1L, 0.75, false)))  // repetitive -> dropped
    assert(out(1L) == ((6L, 6L, 0.0, true)))    // clean -> kept
    assert(out(2L) == ((0L, 0L, 0.0, false)))   // too short -> dropped
    // per-rule audit booleans explain each drop
    val rules = TextAnalysis.gopherFilter(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Boolean]("r_word_count"), r.getAs[Boolean]("r_repetition")))).toMap
    assert(rules(0L) == ((true, false)))   // dropped for repetition
    assert(rules(2L) == ((false, true)))   // dropped for word count
  }

  test("pii signals: counts, flag, and ordered redaction") {
    val df = Seq(
      (0L, "mail a.b+c@ex-1.org or x@y.io, host 10.0.0.1, call +41 22 123 45 67"),
      (1L, "nothing to see here, version 1.2 only"),
      (2L, "ip 192.168.255.254 twice 10.1.2.3")
    ).toDF("doc_id", "text")
    val p = TextAnalysis.piiSignals(col("text"))
    val out = df.select(col("doc_id"), p("n_emails"), p("n_ipv4"),
        p("n_phones"), p("has_pii"), p("text_redacted"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(out(0L) == Seq(2L, 1L, 1L, true,
      "mail [EMAIL] or [EMAIL], host [IP], call [PHONE]"))
    assert(out(1L) == Seq(0L, 0L, 0L, false,
      "nothing to see here, version 1.2 only"))
    assert(out(2L) == Seq(0L, 2L, 0L, true, "ip [IP] twice [IP]"))
  }

  test("repetitionTable and the expression forms == plain-Scala reference") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // lowercase, split on whitespace runs, lengths in code points
    def reference(text: String, n: Int): Seq[Any] = {
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = ws.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
      val len = ws.map(w => w.codePointCount(0, w.length)).sum
      Seq(ws.length.toLong, round6(len.toDouble / math.max(ws.length, 1)),
        grams.size.toLong, grams.distinct.size.toLong,
        if (grams.isEmpty) 0.0 else round6(1.0 - grams.distinct.size.toDouble / grams.size))
    }
    val extra = Seq("a b a b a b", "\tThe  cat\tsat\r\non the CAT sat\n",
      "  lead and  trail  ", "", null, "word", "\u00C0B \u00E0b \u00C0B \u00E0b x",
      "\u0130 \u0130 \u0130", "\uD83D\uDE00 x \uD83D\uDE00 x \uD83D\uDE00",
      "a b c a b c a b c d")
    val df = docs.select(col("doc_id"), col("text")).union(
      extra.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"))
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts.size == 5 + extra.size)
    for (n <- Seq(2, 3)) {
      val rep = TextAnalysis.repetitionSignals(col("text"), n)
      val sig = TextAnalysis.qualitySignals(col("text"))
      val exprForm = df.select(col("doc_id"),
          sig("n_words"), sig("mean_word_len"),
          rep(s"n_${n}grams"), rep(s"n_distinct_${n}grams"), rep(s"dup_${n}gram_frac"))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val tableForm = TextAnalysis.repetitionTable(df, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      // a null text: the expression forms give nulls, the table zeros
      val wantExpr = texts.map { case (id, t) =>
        id -> (if (t == null) Seq(null, null, null, null, 0.0) else reference(t, n)) }
      val wantTable = texts.map { case (id, t) => id -> reference(Option(t).getOrElse(""), n) }
      assert(exprForm == wantExpr, s"n=$n")
      assert(tableForm == wantTable, s"n=$n")
    }
  }

  test("multimodal: decodeMeta passes non-image bytes through as unknown") {
    val blobs = docs.select($"doc_id", $"text".cast("binary").as("blob"))
    val metas = Multimodal.decodeMeta(blobs, "doc_id", "blob").collect()
    assert(metas.length == 5)
    val m0 = metas.find(_.id == 0L).get
    assert(m0.byteLength == 43)
    assert(m0.format == "unknown")
    assert(m0.width == 0 && m0.height == 0 && !m0.truncated)
    // deterministic: same input, same meta
    val again = Multimodal.decodeMeta(blobs, "doc_id", "blob").collect()
      .find(_.id == 0L).get
    assert(again == m0)
  }

  test("multimodal: decodeMeta parses real image headers distributed") {
    val blobs = Seq(
      (1L, MediaCodec.encodePng(640, 360)),
      (2L, MediaCodec.encodeJpeg(31, 17)),
      (3L, MediaCodec.encodeGif(255, 257)),
      (4L, MediaCodec.encodeBmp(1920, 1080)),
      (5L, MediaCodec.encodePng(9, 9).take(8)) // header cut short
    ).toDF("doc_id", "blob")
    val m = Multimodal.decodeMeta(blobs, "doc_id", "blob").collect()
      .map(x => x.id -> x).toMap
    assert(m(1L).format == "png" && m(1L).width == 640 && m(1L).height == 360)
    assert(m(2L).format == "jpeg" && m(2L).width == 31 && m(2L).height == 17)
    assert(m(3L).format == "gif" && m(3L).width == 255 && m(3L).height == 257)
    assert(m(4L).format == "bmp" && m(4L).width == 1920 && m(4L).height == 1080)
    assert(m(5L).format == "png" && m(5L).truncated && m(5L).width == 0)
    assert(Seq(1L, 2L, 3L, 4L).forall(i => !m(i).truncated))
  }

  test("multimodal: frame sampling preserves chunk indices") {
    val big = Seq((1L, Array.fill[Byte](1000)(7))).toDF("id", "blob")
    val frames = Multimodal.sampleFrames(big, "id", "blob", stride = 2)
      .collect().map(r => r.getAs[Int]("frame_idx")).sorted
    assert(frames.toSeq == Seq(0, 2)) // chunks 0..3, stride 2
  }

  test("vocabulary: deterministic ids by (count desc, word), minCount") {
    val docs = Seq("b b b a a c", "a b", "d").toDF("text")
    val v = TextAnalysis.vocabulary(docs, "text", topN = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // counts: b=4, a=3, c=1, d=1 -> minCount 2 keeps b,a
    assert(v.toSeq == Seq((1L, "b", 4L), (2L, "a", 3L)))
    // tie on count -> lexicographic word order decides the id
    val tied = TextAnalysis.vocabulary(
      Seq("z y z y").toDF("text"), "text", topN = 5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(tied.toSeq == Seq((1L, "y"), (2L, "z")))
  }

  test("bigramPmi: collocation scores high, cross-pair low, counts exact") {
    // 'new york' always together; 'dog'/'cat' never adjacent to them
    val docs = (1 to 10).map(_ => "new york is big and new york is old")
      .toDF("text")
    val r = TextAnalysis.bigramPmi(docs, "text", minCount = 5, topK = 10)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(r.contains("new york") && r("new york")._1 == 20)
    // P(new york) = 20/80 bigrams; P(new)=P(york)=20/90 tokens
    val exp = math.log((20.0 / 80) / ((20.0 / 90) * (20.0 / 90)))
    assert(math.abs(r("new york")._2 -
      BigDecimal(exp).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9, s"${r("new york")} vs $exp")
    // rarer-unigram pairs legitimately score higher ('big and': both
    // words 10x -> ln(10.125)); the collocation is still strongly
    // positive and the closed form above pins its exact value
    assert(r("new york")._2 > 1.0)
  }
  test("encode: id sequences in order, OOV -> -1, empty docs empty") {
    val docs = Seq((1L, "b a b zz"), (2L, ""), (3L, "a")).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabulary(docs, "text", topN = 10)
    // counts: b=2 a=2 zz=1 -> ids: 1=a (tie, lex), 2=b, 3=zz
    val got = TextAnalysis.encode(
        docs, "doc_id", "text",
        vocab.where(col("word") =!= "zz")) // force zz out-of-vocab
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList,
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, List(2L, 1L, 2L, -1L), 4L, 1L),
      (2L, Nil, 0L, 0L),
      (3L, List(1L), 1L, 0L)))
  }

  test("editDistancePairs matches a brute-force reference, incl. short strings") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(11)
    val alpha = "abc"
    // mixed lengths: plenty below the q*(maxDist+1) short threshold
    val strs = (1 to 40).map(i => (i.toLong,
      (0 until (1 + rnd.nextInt(11)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString))
    for (d <- Seq(1, 2)) {
      val want = (for {
        (i, si) <- strs; (j, sj) <- strs
        if i < j && lev(si, sj) <= d
      } yield (i, j, lev(si, sj))).toSet
      val got = Dedup.editDistancePairs(
          strs.toDF("id", "s"), "id", "s", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"maxDist=$d")
    }
    // blocking: only same-block pairs survive, including the short pool
    val blocked = strs.map { case (i, s0) => (i, s0, i % 3) }
    val wantB = (for {
      (i, si, bi) <- blocked; (j, sj, bj) <- blocked
      if i < j && bi == bj && lev(si, sj) <= 2
    } yield (i, j)).toSet
    val gotB = Dedup.editDistancePairs(
        blocked.toDF("id", "s", "blk"), "id", "s", maxDist = 2,
        blockCols = Seq("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotB == wantB)
  }

  test("groupShingleOverlap: exact Jaccard between group shingle unions") {
    // A: {"a b c","b c d"}; B: {"a b c","b c x"}; C: disjoint
    val docs = Seq(("A", "a b c d"), ("B", "a b c x"), ("C", "p q r s"))
      .toDF("src", "text")
    val got = Dedup.groupShingleOverlap(docs, "src", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("A", "B", 2L, 2L, 1L, 0.333333)))
    // union semantics: two docs in one group pool their shingles
    val pooled = Seq(("A", "a b c"), ("A", "b c d"), ("B", "a b c d"))
      .toDF("src", "text")
    val g2 = Dedup.groupShingleOverlap(pooled, "src", "text", 3).head()
    assert((g2.getLong(2), g2.getLong(3), g2.getLong(4)) == (2L, 2L, 2L)
      && g2.getDouble(5) == 1.0)
  }

  test("ngramContamination: hit fraction against a benchmark slice") {
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c d e x"), // "a b c d e" hits, "b c d e x" misses
      (2L, "p q r s t u"), // nothing hits
      (3L, "a b")          // < n words: no row
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(docs, bench, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 0L, 0.0)))
  }

  test("topRepeatedNgrams: occurrence counts, doc freq, tie order") {
    val docs = Seq(
      (1L, "x y z x y z"),   // "x y z" twice (+ bridges "y z x","z x y")
      (2L, "x y z w"),       // "x y z" once, "y z w" once
      (3L, "q r s")).toDF("doc_id", "text")
    val got = TextAnalysis.topRepeatedNgrams(docs, "doc_id", "text", 3, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.head == ("x y z", 3L, 2L))
    // count-1 grams tie: lexicographic gram order breaks them
    assert(got.drop(1).map(_._1).toSeq ==
      got.drop(1).map(_._1).toSeq.sorted)
    assert(got.forall(_._2 <= 3L))
  }

  test("emergingTerms: risers rank by smoothed log-odds, counts exact") {
    val before = Seq((1L, "x x x y")).toDF("id", "text")
    val after = Seq((2L, "y y z z z")).toDF("id", "text")
    val got = TextAnalysis.emergingTerms(before, after, "text",
        topK = 10, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq("z", "y", "x"))
    assert(got.head == ("z", 0L, 3L,
      BigDecimal(math.log(3.5 / 2.5) - math.log(0.5 / 4.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got.last._4 < 0) // x vanished: negative log-odds
    // minCount filters below-threshold totals (all totals are 3 here)
    assert(TextAnalysis.emergingTerms(before, after, "text", 10, 4L)
      .count() == 0)
    assert(TextAnalysis.emergingTerms(before, after, "text", 10, 3L)
      .count() == 3)
  }

  test("sourceMixWeights: alpha=0.5 up-weights small sources") {
    val docs = Seq(
      ("big", "w1 w2 w3 w4 w5 w6 w7 w8 w9"), // 9 tokens
      ("small", "w1 w2 w3 w4")).toDF("src", "text") // 4 tokens
    val got = Sampling.sourceMixWeights(docs, "src", "text", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // sqrt(9)/(sqrt(9)+sqrt(4)) = 0.6 — vs 9/13 = 0.69 proportional
    assert(got.toSeq == Seq(("big", 1L, 9L, 0.6), ("small", 1L, 4L, 0.4)))
    // alpha=0 is uniform
    val uni = Sampling.sourceMixWeights(docs, "src", "text", 0.0)
      .collect().map(_.getDouble(3))
    assert(uni.toSeq == Seq(0.5, 0.5))
  }

  test("balancedSample: every class capped to min class count, subset") {
    val df = ((0L until 100L).map((_, "big")) ++
      (100L until 112L).map((_, "small")) ++
      (200L until 230L).map((_, "mid"))).toDF("id", "cls")
    val got = Sampling.balancedSample(df, "cls", "id")
    val counts = got.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 12L, "small" -> 12L, "mid" -> 12L))
    // subset of the input, schema unchanged
    assert(got.columns.toSeq == df.columns.toSeq)
    assert(got.except(df).count() == 0)
    // deterministic: repartitioned input selects the SAME rows
    val again = Sampling.balancedSample(df.repartition(7), "cls", "id")
    assert(got.except(again).count() == 0 && again.except(got).count() == 0)
  }

  test("globalSequencePack: offsets match a window prefix sum, boundaries exact") {
    // docs with 3, 5, 4, 2 tokens; seqLen 4 ->
    // offsets 0,3,8,12; first/last seq: [0,0],[0,1],[2,2],[3,3]
    val docs = Seq(
      (10L, "a b c"), (20L, "d e f g h"), (30L, "i j k l"),
      (40L, "m n"), (50L, "   ") // zero tokens: excluded
    ).toDF("doc_id", "text")
    val out = TextAnalysis.globalSequencePack(docs, "doc_id", "text", 4L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out(10L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(out(20L) == ((5L, 3L, 0L, 1L, 2L)))
    assert(out(30L) == ((4L, 8L, 2L, 2L, 1L)))
    assert(out(40L) == ((2L, 12L, 3L, 3L, 1L)))
    assert(!out.contains(50L))
  }

  test("globalSequencePack: partition-invariant and gap-free on a bigger corpus") {
    val docs = (0L until 200L).map { i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val a = TextAnalysis.globalSequencePack(docs, "doc_id", "text", 16L)
    val b = TextAnalysis.globalSequencePack(
      docs.repartition(13), "doc_id", "text", 16L)
    assert(a.orderBy("doc_id").collect().toSeq ==
      b.orderBy("doc_id").collect().toSeq)
    // the stream is gap-free: each doc starts where the previous ended
    val rows = a.orderBy("doc_id").collect()
    var expect = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == expect)
      expect += r.getLong(1)
    }
    assert(expect == (0L until 200L).map(_ % 7 + 1).sum)
  }

  test("stratifiedFolds: exact per-class balance, deterministic, partition-invariant") {
    val df = (0L until 103L).map(i => (i, s"c${i % 3}")).toDF("id", "cls")
    val folds = Sampling.stratifiedFolds(df, "id", "cls", 4)
    val sizes = folds.groupBy("cls", "fold").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // per class, fold sizes differ by at most one and cover all rows
    Seq("c0", "c1", "c2").foreach { c =>
      val s = (0L until 4L).map(f => sizes.getOrElse((c, f), 0L))
      assert(s.max - s.min <= 1, s"$c: $s")
    }
    assert(sizes.values.sum == 103L)
    // each id appears exactly once, and a repartitioned input deals
    // identically (the md5 order is partition-independent)
    val again = Sampling.stratifiedFolds(df.repartition(11), "id", "cls", 4)
    assert(folds.orderBy("id").collect().toSeq ==
      again.orderBy("id").collect().toSeq)
    assert(folds.select("id").distinct().count() == 103L)
  }

  test("hashingTrickFeatures: counts ride signs, collisions merge, deterministic") {
    val docs = Seq((1L, "alpha alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val out = FeatureEng.hashingTrickFeatures(docs, "doc_id", "text", 64)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // doc 2's single-token feature has |weight| 1 and n_tokens 1
    val d2 = rows.filter(_._1._1 == 2L)
    assert(d2.size == 1 && math.abs(d2.head._2._1) == 1L && d2.head._2._2 == 1L)
    // doc 1: alpha's feature carries weight ±2 (two tokens, same sign)
    val d1 = rows.filter(_._1._1 == 1L)
    assert(d1.values.map(v => math.abs(v._1)).toSeq.sorted == Seq(1L, 2L))
    // same feature index for the same word across docs
    val alphaIdx1 = d1.find(_._2._2 == 2L).get._1._2
    assert(d2.head._1._2 == alphaIdx1)
    // deterministic under repartition
    val again = FeatureEng.hashingTrickFeatures(
      docs.repartition(5), "doc_id", "text", 64)
    assert(out.orderBy("doc_id", "feat_idx").collect().toSeq ==
      again.orderBy("doc_id", "feat_idx").collect().toSeq)
  }

  test("countMinEstimates: est >= true always, exact at generous width") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b d")).toDF("id", "text")
    val probes = Seq("a", "b", "c", "d", "zz").toDF("word")
    // wide sketch: no collisions plausible at width 4096 over 4 words
    val wide = TextAnalysis.countMinEstimates(docs, "text", probes,
        "word", depth = 4, width = 4096)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(wide("a") == ((4L, 4L, 0L)))
    assert(wide("b") == ((3L, 3L, 0L)))
    assert(wide("c") == ((1L, 1L, 0L)))
    assert(wide("zz")._1 == 0L) // absent word: true 0, est >= 0
    // narrow sketch: estimates never undercount
    val narrow = TextAnalysis.countMinEstimates(docs, "text", probes,
        "word", depth = 2, width = 2)
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    narrow.foreach { case (est, tru) => assert(est >= tru) }
  }

  test("cached pair builders return the verified pairs and reuse the build") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text with no overlap at all here")
    ).toDF("doc_id", "text")
    val sh = Dedup.wordShingleTableCached(docs, "doc_id", "text", 3)
    val direct = Dedup.jaccardPairs(sh, 0.5).collect().toSet
    val cached1 = Dedup.jaccardPairsCached(sh, 0.5)
    val cached2 = Dedup.jaccardPairsCached(sh, 0.5)
    assert(cached1 eq cached2) // same memoized DataFrame instance
    assert(cached1.collect().toSet == direct)
    Dedup.clearShingleCache()
    val cached3 = Dedup.jaccardPairsCached(
      Dedup.wordShingleTableCached(docs, "doc_id", "text", 3), 0.5)
    assert(!(cached1 eq cached3)) // clear really drops the memo
    assert(cached3.collect().toSet == direct)
  }

  test("bpeMerges learns the hand-traced rules in order") {
    // words: aaab x2, ab x1
    // r1: (a,a)=4 beats (a,b)=3 -> fuse: 'a a a b'->'aa a b'
    // r2: (a,b)=3 beats (aa,a)=2 -> 'aa a b'->'aa ab', 'a b'->'ab'
    // r3: (aa,ab)=2
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, "text", rounds = 3)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
  }

  test("clusterChainDriftFromPairs: chained cluster flagged, cap ledgers") {
    // cluster {1,2,3} exists only by chaining: J(1,2)=J(2,3)=0.6 but
    // J(1,3)=1/3. cluster {5,6} is exact. doc 4 is a singleton.
    val sh = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"),
      (2L, "a"), (2L, "b"), (2L, "c"), (2L, "e"),
      (3L, "b"), (3L, "c"), (3L, "e"), (3L, "f"),
      (4L, "x"),
      (5L, "p"), (5L, "q"), (5L, "r"),
      (6L, "p"), (6L, "q"), (6L, "r")).toDF("id", "g")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("i", "j")
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val out = Dedup.clusterChainDriftFromPairs(sh, pairs, docs, "doc_id",
        threshold = 0.6, maxClusterSize = 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))).toMap
    assert(out.keySet == Set(1L, 5L)) // singletons emit nothing
    assert(out(1L) == ((3L, 3L, 0.333333, 1L))) // the chained pair
    assert(out(5L) == ((2L, 1L, 1.0, 0L)))
    // cap: the size-3 cluster is ledgered with NULL audit fields
    val capped = Dedup.clusterChainDriftFromPairs(sh, pairs, docs,
        "doc_id", threshold = 0.6, maxClusterSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.isNullAt(2)))).toMap
    assert(capped(1L) == ((3L, true)) && capped(5L) == ((2L, false)))
  }

  test("distinctNgramRatios: hand-counted ratios, short docs skip high n") {
    val docs = Seq(
      ("A", "x x y"),   // uni: 3 tot 2 dist; bi: "x x","x y" 2/2
      ("A", "x"),       // adds 1 uni tot, no new distinct, no bigram
      ("B", "z")        // uni only; no bigram row for B
    ).toDF("source", "text")
    val out = TextAnalysis.distinctNgramRatios(docs, "text", "source", 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("A", 1)) == ((4L, 2L, 0.5)))
    assert(out(("A", 2)) == ((2L, 2L, 1.0)))
    assert(out(("B", 1)) == ((1L, 1L, 1.0)))
    assert(!out.contains(("B", 2)))
  }

  test("bpeFertility: hand-traced encode and per-group rollup") {
    // corpus words: aaab x2 (srcA), ab x1 (srcA) + ab x2 (srcB).
    // r1: (a,b)=5 beats (a,a)=4 -> aaab=' a a ab ', ab=' ab '
    // r2: (a,a)=2 ties (a,ab)=2, lexicographic b-tiebreak picks (a,a)
    //     -> aaab=' aa ab ' (2 tokens); ab stays 1 token.
    val docs = Seq(
      (1L, "A", "aaab aaab ab"), (2L, "B", "ab ab")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.bpeFertility(docs, "text", "source", rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out("A") == ((3L, 5L, 1.666667, 2.0)))
    assert(out("B") == ((2L, 2L, 1.0, 2.0)))
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeFertility(docs, "text", "source", rounds = 0)
    }
    // a corpus whose pair vocabulary dries up before `rounds` rules must
    // refuse loudly, not encode under a silently shorter rule list
    val tiny = Seq((1L, "A", "ab ab")).toDF("doc_id", "source", "text")
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.bpeFertility(tiny, "text", "source", rounds = 8)
    }
    assert(ex.getMessage.contains("BPE rules"))
  }

  test("encodingAudit: planted damage counted per class, clean text zero") {
    val corpus = Seq(
      ("w", "clean ascii text only"),
      ("w", "bad \uFFFD\uFFFD bytes and a \u0001 control"), // 2 repl + 1 ctrl
      // the Latin-1-decoded-UTF-8 signature: C3 A9 / C2 A0 pairs
      ("w", "latin mojibake caf\u00C3\u00A9 and\tmore \u00C2\u00A0"),
      ("c", "caf\u00E9 r\u00E9sum\u00E9"), // clean accents are NOT damage
      ("c", null)                          // null -> empty
    ).toDF("src", "text")
    val out = TextAnalysis.encodingAudit(corpus, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val w = out("w")
    assert(w.getLong(1) == 3L)                    // n_docs
    assert(w.getLong(3) == 2L)                    // n_repl
    assert(w.getLong(4) == 1L)                    // n_ctrl (tab/LF/CR exempt)
    assert(w.getLong(5) == 2L)                    // n_moji (one C3 + one C2)
    assert(w.getLong(6) == 6L)                    // 2 repl + C3,A9,C2,A0
    assert(w.getLong(7) == 2L)                    // damaged docs
    assert(w.getDouble(8) > 0.0)
    val c = out("c")
    assert(c.getLong(1) == 2L && c.getLong(3) == 0L && c.getLong(4) == 0L)
    assert(c.getLong(5) == 0L && c.getLong(6) == 3L) // accents are NOT damage
    assert(c.getLong(7) == 0L && c.getDouble(8) == 0.0)
  }

  test("splitConformal: engineered residual ladder gives the exact order-stat quantile") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"0:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % 100
    }
    val ids = (0L until 400L)
    val train = ids.filter(bucket(_) < 60)
    val cal = ids.filter(i => bucket(i) >= 60 && bucket(i) < 80).sorted
    val test = ids.filter(bucket(_) >= 80).sorted
    // train rows all y = 10 -> model mean exactly 10; calibration row #i
    // (1-based in id order) gets residual i; test rows straddle q_hat
    val calRes = cal.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val rows =
      train.map(id => ("g1", id, 10L)) ++
      cal.map(id => ("g1", id, 10L + calRes(id))) ++
      test.zipWithIndex.map { case (id, i) => ("g1", id, 10L + i + 1L) }
    val out = FeatureEng.splitConformal(rows.toDF("g", "id", "y"),
        "id", "g", "y", alpha = 0.1, trainPct = 60, calPct = 20)
      .head()
    val nCal = cal.size
    val k = math.min(math.ceil(0.9 * (nCal + 1)).toLong, nCal.toLong)
    assert(out.getLong(5) == nCal.toLong)
    assert(out.getDouble(4) == k.toDouble) // q_hat = k-th smallest residual
    // test residuals are 1..n_test; covered = those <= k
    val expCovered = math.min(k, test.size.toLong)
    assert(out.getLong(1) == test.size.toLong &&
      out.getLong(2) == expCovered)
    // constant group: zero residuals, q_hat still from the global ladder
    val rows2 = rows ++ ids.map(id => ("g2", id + 10000L, 7L))
    // note: g2's ids shift buckets, but constant y makes all residuals 0
    val out2 = FeatureEng.splitConformal(rows2.toDF("g", "id", "y"),
        "id", "g", "y", alpha = 0.1, trainPct = 60, calPct = 20)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out2("g2").getDouble(3) == 1.0) // constant group fully covered
  }

  test("unigramLmScores: differential vs in-memory EM E-step reference") {
    val rnd = new scala.util.Random(11)
    val vocabLetters = "abcde"
    val corpus = (0 until 40).map { _ =>
      (0 until (3 + rnd.nextInt(6))).map { _ =>
        (0 until (1 + rnd.nextInt(7)))
          .map(_ => vocabLetters(rnd.nextInt(vocabLetters.length))).mkString
      }.mkString(" ")
    }.toDF("text")
    val (maxSub, maxWord, k) = (3, 16, 24)
    val out = TextAnalysis.unigramLmScores(corpus, "text", maxSub, maxWord, k)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // in-memory reference
    val wcRef = corpus.collect().flatMap(
        _.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty))
      .filter(w => w.length >= 1 && w.length <= maxWord)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val freq = scala.collection.mutable.Map[String, Long]()
    for ((w, c) <- wcRef; j <- 0 until w.length;
         i <- (j + 1) to math.min(j + maxSub, w.length))
      freq(w.substring(j, i)) = freq.getOrElse(w.substring(j, i), 0L) + c
    val vocab = freq.toSeq.sortBy { case (s, f) => (-f, s) }.take(k).toMap
    val t = vocab.values.sum.toDouble
    def viterbi(w: String): Option[Double] = {
      val best = Array.fill(w.length + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      for (i <- 1 to w.length; j <- math.max(0, i - maxSub) until i) {
        vocab.get(w.substring(j, i)).foreach { f =>
          val cand = best(j) + math.log(f / t)
          if (cand > best(i)) best(i) = cand
        }
      }
      if (best(w.length) == Double.NegativeInfinity) None
      else Some(BigDecimal(-best(w.length))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out.keySet == wcRef.keySet)
    for ((w, c) <- wcRef) {
      val (cnt, len, nll) = out(w)
      assert(cnt == c && len == w.length, s"word $w counts")
      assert(nll == viterbi(w), s"word $w nll")
    }
    // with a tiny vocab cut some multi-char words must be unsegmentable
    val tiny = TextAnalysis.unigramLmScores(corpus, "text", maxSub, maxWord, 2)
      .collect()
    assert(tiny.exists(_.isNullAt(3)))
  }

  test("unigramLmFertility: differential token counts with min-token tie-break") {
    val rnd = new scala.util.Random(23)
    val letters = "abc" // tiny alphabet makes score ties common
    val corpus = (0 until 30).map { i =>
      (if (i % 2 == 0) "s1" else "s2",
        (0 until (2 + rnd.nextInt(5))).map { _ =>
          (0 until (1 + rnd.nextInt(6)))
            .map(_ => letters(rnd.nextInt(letters.length))).mkString
        }.mkString(" "))
    }.toDF("src", "text")
    val (maxSub, maxWord, k) = (3, 12, 12)
    val out = TextAnalysis.unigramLmFertility(corpus, "text", "src",
        maxSub, maxWord, k)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // in-memory reference with the same (max score, min tokens) DP
    val rows = corpus.collect().map(r => (r.getString(0), r.getString(1)))
    val wcg = rows.flatMap { case (g, t) =>
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).map(w => (g, w))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val wcRef = wcg.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
      .filter { case (w, _) => w.length >= 1 && w.length <= maxWord }
    val freq = scala.collection.mutable.Map[String, Long]()
    for ((w, c) <- wcRef; j <- 0 until w.length;
         i <- (j + 1) to math.min(j + maxSub, w.length))
      freq(w.substring(j, i)) = freq.getOrElse(w.substring(j, i), 0L) + c
    val vocab = freq.toSeq.sortBy { case (s, f) => (-f, s) }.take(k).toMap
    val t = vocab.values.sum.toDouble
    def ntok(w: String): Option[Int] = {
      val best = Array.fill(w.length + 1)(Double.NegativeInfinity)
      val n = Array.fill(w.length + 1)(Int.MaxValue)
      best(0) = 0.0; n(0) = 0
      for (i <- 1 to w.length; j <- math.max(0, i - maxSub) until i)
        vocab.get(w.substring(j, i)).foreach { f =>
          if (best(j) != Double.NegativeInfinity) {
            val cand = best(j) + math.log(f / t)
            if (cand > best(i)) { best(i) = cand; n(i) = n(j) + 1 }
            else if (cand == best(i) && n(j) + 1 < n(i)) n(i) = n(j) + 1
          }
        }
      if (best(w.length) == Double.NegativeInfinity) None else Some(n(w.length))
    }
    for (g <- Seq("s1", "s2")) {
      val grpWords = wcg.collect { case ((gg, w), c) if gg == g => (w, c) }
      val expWords = grpWords.map(_._2).sum
      val expSeg = grpWords.collect {
        case (w, c) if w.length <= maxWord && ntok(w).isDefined => c }.sum
      val expTok = grpWords.collect {
        case (w, c) if w.length <= maxWord && ntok(w).isDefined =>
          c * ntok(w).get }.sum
      val (nw, ns, nu, nt) = out(g)
      assert(nw == expWords && ns == expSeg, s"group $g words")
      assert(nu == expWords - expSeg, s"group $g unseg")
      assert(nt == expTok, s"group $g tokens")
    }
  }

  test("unigramLmMStep: differential recount vs in-memory argmax paths") {
    val rnd = new scala.util.Random(31)
    val letters = "abc"
    val corpus = (0 until 30).map { _ =>
      (0 until (2 + rnd.nextInt(5))).map { _ =>
        (0 until (1 + rnd.nextInt(6)))
          .map(_ => letters(rnd.nextInt(letters.length))).mkString
      }.mkString(" ")
    }.toDF("text")
    val (maxSub, maxWord, k) = (3, 12, 12)
    val out = TextAnalysis.unigramLmMStep(corpus, "text",
        maxSub, maxWord, k)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // in-memory reference: same vocab, same (score, ntok, min-j) path
    val wcRef = corpus.collect().flatMap(
        _.getString(0).toLowerCase.split("\\s+").filter(_.nonEmpty))
      .filter(w => w.length >= 1 && w.length <= maxWord)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val freq = scala.collection.mutable.Map[String, Long]()
    for ((w, c) <- wcRef; j <- 0 until w.length;
         i <- (j + 1) to math.min(j + maxSub, w.length))
      freq(w.substring(j, i)) = freq.getOrElse(w.substring(j, i), 0L) + c
    val vocab = freq.toSeq.sortBy { case (s, f) => (-f, s) }.take(k).toMap
    val t = vocab.values.sum.toDouble
    def pathOf(w: String): Option[Seq[(Int, Int)]] = {
      val best = Array.fill(w.length + 1)(Double.NegativeInfinity)
      val n = Array.fill(w.length + 1)(Int.MaxValue)
      best(0) = 0.0; n(0) = 0
      for (i <- 1 to w.length; j <- math.max(0, i - maxSub) until i)
        vocab.get(w.substring(j, i)).foreach { f =>
          if (best(j) != Double.NegativeInfinity) {
            val cand = best(j) + math.log(f / t)
            if (cand > best(i)) { best(i) = cand; n(i) = n(j) + 1 }
            else if (cand == best(i) && n(j) + 1 < n(i)) n(i) = n(j) + 1
          }
        }
      if (best(w.length) == Double.NegativeInfinity) return None
      val spans = scala.collection.mutable.ListBuffer[(Int, Int)]()
      var pos = w.length
      while (pos > 0) {
        val j = (math.max(0, pos - maxSub) until pos).filter { j =>
          vocab.contains(w.substring(j, pos)) &&
            best(j) != Double.NegativeInfinity &&
            best(j) + math.log(vocab(w.substring(j, pos)) / t) == best(pos) &&
            n(j) + 1 == n(pos)
        }.min
        spans.prepend((j, pos))
        pos = j
      }
      Some(spans.toList)
    }
    val expCounts = scala.collection.mutable.Map[String, Long]()
    for ((w, c) <- wcRef; p <- pathOf(w); (j, i) <- p)
      expCounts(w.substring(j, i)) =
        expCounts.getOrElse(w.substring(j, i), 0L) + c
    assert(out.keySet == vocab.keySet)
    for ((tok, f0) <- vocab) {
      val (gotF0, gotNew) = out(tok)
      assert(gotF0 == f0, s"token $tok f0")
      assert(gotNew == expCounts.getOrElse(tok, 0L), s"token $tok cnt_new")
    }
    // mass conservation: total new counts == total tokens on all paths
    assert(out.values.map(_._2).sum == expCounts.values.sum)
  }

  test("unigramLmScoresWith: hard-EM round does not worsen still-covered words") {
    val rnd = new scala.util.Random(41)
    val letters = "ab"
    val corpus = (0 until 40).map { _ =>
      (0 until (2 + rnd.nextInt(5))).map { _ =>
        (0 until (1 + rnd.nextInt(5)))
          .map(_ => letters(rnd.nextInt(letters.length))).mkString
      }.mkString(" ")
    }.toDF("text")
    val (maxSub, maxWord, k) = (3, 12, 8)
    val m = TextAnalysis.unigramLmMStep(corpus, "text", maxSub, maxWord, k)
    val probs1 = m.where(col("cnt_new") > 0)
      .select(col("token").as("sub"), col("lp_new").as("lp"))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
        .toMap
    val nll0 = scores(TextAnalysis.unigramLmScores(corpus, "text",
      maxSub, maxWord, k))
    val nll1 = scores(TextAnalysis.unigramLmScoresWith(corpus, "text",
      probs1, maxSub, maxWord))
    assert(nll0.keySet == nll1.keySet)
    // every initially-segmentable word stays covered: its own argmax
    // path's tokens all have cnt_new >= its count > 0
    for ((w, (_, s0)) <- nll0 if s0.isDefined)
      assert(nll1(w)._2.isDefined, s"word $w lost coverage")
    // hard-EM guarantee: the COUNT-WEIGHTED total Viterbi NLL does not
    // increase — new params are the MLE of the old paths' token counts
    // (Gibbs), and re-Viterbi can only improve further; per-word scores
    // may move either way. Tolerance covers the 6dp-rounded lp terms.
    val seg = nll0.keys.filter(nll0(_)._2.isDefined).toSeq
    assert(seg.nonEmpty)
    val t0 = seg.map(w => nll0(w)._1 * nll0(w)._2.get).sum
    val t1 = seg.map(w => nll1(w)._1 * nll1(w)._2.get).sum
    assert(t1 <= t0 + 1e-3, s"EM round worsened weighted NLL: $t0 -> $t1")
  }

  test("burrowsDelta: hand-computed two-source z-profile; off-register source tops") {
    // vocabulary {x, y}: src a is x-heavy, src b is y-heavy, src c is
    // balanced — with topM = 2 every relative frequency is hand-traceable
    val corpus = Seq(
      ("a", "x x x y"),   // f_a = (0.75, 0.25)
      ("b", "x y y y"),   // f_b = (0.25, 0.75)
      ("c", "x x y y")    // f_c = (0.50, 0.50)
    ).toDF("src", "text")
    val out = TextAnalysis.burrowsDelta(corpus, "src", "text", topM = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4))))
      .toMap
    // per word across sources: mean 0.5; sample sd of {0.75,0.25,0.5}
    val sd = math.sqrt(((0.0625 + 0.0625 + 0.0) / 2))
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val zBig = 0.25 / sd
    assert(out("a")._1 == 4L && out("b")._1 == 4L)
    assert(out("a")._2 == r6(zBig)) // both words at |z| = 0.25/sd
    assert(out("b")._2 == r6(zBig))
    assert(out("c")._2 == 0.0 && out("c")._3 == 0.0)
    // argmax tie at equal |z| resolves to the lexicographically larger word
    assert(out("a")._4 == "y" && out("b")._4 == "y")
    intercept[IllegalArgumentException] {
      TextAnalysis.burrowsDelta(corpus, "src", "text", topM = 1)
    }
  }

  test("effectiveTokens: integer halving per copy, caps, normalization groups") {
    val corpus = Seq(
      ("a", "one two three four"),        // 4 tokens, c=3 (with below)
      ("a", "one  two three\tfour"),      // normalizes to the same text
      ("a", "ONE TWO THREE FOUR"),        // case-normalized duplicate
      ("a", "solo document here"),        // 3 tokens, c=1
      ("b", "five six seven"),            // 3 tokens, c=2
      ("b", "five six seven"),
      ("b", null)                         // dropped
    ).toDF("src", "text")
    val out = Dedup.effectiveTokens(corpus, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: dup family 4 tokens x3 -> 4 + 2 + 1 = 7 eff; solo 3 -> 3
    assert(out("a") == ((4L, 2L, 15L, 10L)))
    // b: 3 tokens x2 -> 3 + 1 = 4 eff
    assert(out("b") == ((2L, 1L, 6L, 4L)))
    intercept[IllegalArgumentException] {
      Dedup.effectiveTokens(corpus, "src", "text", maxShift = 0)
    }
  }

  test("neymanAllocation: variance-proportional split, zero-variance starved, md5 draw") {
    // stratum a: high variance; b: lower; c: constant (sigma = 0)
    val rows = (0L until 40L).map(i => ("a", i, if (i % 2 == 0) 0L else 100L)) ++
      (100L until 140L).map(i => ("b", i, 50L + (i % 2) * 10L)) ++
      (200L until 240L).map(i => ("c", i, 7L))
    val df = rows.toDF("g", "id", "x")
    val out = Sampling.neymanAllocation(df, "g", "id", "x", totalN = 30L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // expected allocation from the same formula in driver-side doubles
    def sig(xs: Seq[Long]): Double = {
      val n = xs.size
      math.sqrt((n.toDouble * xs.map(v => v * v).sum - {
        val s = xs.map(BigInt(_)).sum; (s * s).toDouble
      }) / (n.toDouble * (n - 1)))
    }
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    val ws = byG.map { case (g, xs) => g -> xs.size * sig(xs) }
    val wtot = ws.values.sum
    for (g <- Seq("a", "b", "c")) {
      val (n, sigma, alloc, nSampled, idSum) = out(g)
      assert(n == 40L)
      val expAlloc = math.min(math.floor(30.0 * ws(g) / wtot + 0.5).toLong, 40L)
      assert(alloc == expAlloc, s"$g alloc")
      assert(nSampled == alloc)
      // replay the md5-ranked draw
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val ids = rows.filter(_._1 == g).map(_._2)
        .sortBy(i => (md5hex(i.toString), i)).take(alloc.toInt)
      assert(idSum == ids.sum, s"$g draw membership")
      assert(math.abs(sigma - BigDecimal(sig(byG(g)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    assert(out("c")._3 == 0L) // zero-variance stratum starved
    assert(out("a")._3 > out("b")._3) // variance-proportional
  }

  test("dsirLogWeights: identical target/raw corpora weigh exactly zero") {
    // Target and raw are the same multiset of texts -> every bucket has
    // ct == cr and tt == tr, so the smoothed log-ratio is identically 0
    // for every document regardless of hash collisions.
    val d = Seq(
      (0L, 1, "alpha beta gamma"), (1L, 1, "delta epsilon"),
      (2L, 0, "alpha beta gamma"), (3L, 0, "delta epsilon")
    ).toDF("doc_id", "t", "text")
    val out = Sampling.dsirLogWeights(d, "doc_id", "text",
        targetFilter = col("t") === 1, buckets = 64)
      .collect().map(r => (r.getLong(0),
        (r.getBoolean(1), r.getLong(2), r.getDouble(3)))).toMap
    // n_feats: 3 words + 2 bigrams = 5, or 2 + 1 = 3
    assert(out(0L) == ((true, 5L, 0.0)))
    assert(out(1L) == ((true, 3L, 0.0)))
    assert(out(2L) == ((false, 5L, 0.0)))
    assert(out(3L) == ((false, 3L, 0.0)))
  }

  test("dsirLogWeights: target-exclusive vocabulary scores positive, " +
      "raw-exclusive negative; null filter reads as raw") {
    val d = Seq(
      (0L, Some(1), "tx ty tz tx ty"),
      (1L, Some(0), "rx ry rz rx ry"),
      (2L, None: Option[Int], "rx ry")
    ).toDF("doc_id", "t", "text")
    val out = Sampling.dsirLogWeights(d, "doc_id", "text",
        targetFilter = col("t") === 1, buckets = 4096)
      .collect().map(r => (r.getLong(0),
        (r.getBoolean(1), r.getDouble(3)))).toMap
    assert(out(0L)._1 && out(0L)._2 > 0, out(0L))
    assert(!out(1L)._1 && out(1L)._2 < 0, out(1L))
    // null predicate coalesces to raw membership
    assert(!out(2L)._1 && out(2L)._2 < 0, out(2L))
  }

  test("qualityThresholdSweep: one row per (group, threshold), exact " +
      "conditional counts") {
    val d = Seq(
      ("a", 0.9, 10L), ("a", 0.4, 20L), ("a", 0.1, 40L),
      ("b", 0.5, 8L)
    ).toDF("source", "score", "tk")
    val out = Sampling.qualityThresholdSweep(d, "source",
        scoreCol = col("score"), tokensCol = col("tk"),
        thresholds = Seq(0.25, 0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out(("a", 0.25)) == ((3L, 70L, 2L, 30L, 0.428571)))
    assert(out(("a", 0.5)) == ((3L, 70L, 1L, 10L, 0.142857)))
    assert(out(("b", 0.25)) == ((1L, 8L, 1L, 8L, 1.0)))
    assert(out(("b", 0.5)) == ((1L, 8L, 1L, 8L, 1.0)))
    assert(out.size == 4)
    intercept[IllegalArgumentException] {
      Sampling.qualityThresholdSweep(d, "source", col("score"),
        col("tk"), thresholds = Nil)
    }
  }
}
