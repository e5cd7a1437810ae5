package graft.profile

import graft.SparkSpec
import graft.functions.StatFunctions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The profiler's typed kernels over pass B's count tables (value stats,
  * histograms, char stats) and pass F's groups, checked against the SQL
  * each one replaces, at 8 shuffle partitions so that ties straddle
  * partitions; and a whole profile read at 120 partitions, where the
  * partials merge on the executors first, against the same profile at 2. */
class CountTableKernelSpec extends SparkSpec {

  /** Runs `body` with `n` shuffle partitions that AQE does not coalesce. */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def frame(rows: Seq[Row], schema: StructType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private val quiet = ProfileConfig.default.copy(computeCorrelations = false,
    computeCramers = false, computeDuplicates = false, computeMad = false)

  /** Count-desc, value-asc in String (UTF-16) order, as the report lists. */
  private def ranked(counts: Seq[(String, Long)]): Seq[(String, Long)] =
    counts.sortBy { case (v, n) => (-n, v) }

  test("value stats: distinct, unique, chi2 and top-K with ties across partitions") {
    val rnd = new scala.util.Random(11)
    // counts 1..6 with many values per count, so the top-5 cut and the
    // unique count both hang on ties spread over every partition
    val cats = (0 until 40).flatMap(i => Seq.fill(1 + i % 6)(s"v${i % 13}_$i"))
    val nums = (0 until 60).flatMap(i => Seq.fill(1 + i % 4)(i.toLong * 7919 % 101))
    val n = math.max(cats.size, nums.size)
    val rows = rnd.shuffle((0 until n).map(i =>
      Row(cats.lift(i).orNull, nums.lift(i).map(Long.box).orNull)))
    val df = frame(rows, StructType(Seq(
      StructField("cat", StringType), StructField("num", LongType))), 9)
    val cfg = quiet.copy(topK = 5)
    val p = withShufflePartitions(8)(Profiler.profile(df, cfg))
    for (c <- Seq("cat", "num")) {
      val counts = df.where(col(c).isNotNull).groupBy(col(c).cast("string")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val k = counts.size.toLong
      val chi2 = chi2FromCounts(counts.map(_._2).sum.toDouble,
        counts.map(x => x._2 * x._2).sum.toDouble, k)
      val cp = p.columns.find(_.name == c).get
      assert(cp.common.nDistinct == k, c)
      assert(cp.common.nUnique == counts.count(_._2 == 1), c)
      val chi2P = cp.typed match {
        case s: CategoricalStats =>
          assert(s.topValues == ranked(counts).take(cfg.topK), c)
          s.chiSquaredP
        case s: NumericStats => s.chiSquaredP
        case other => fail(s"$c profiled as $other")
      }
      assert(chi2P.contains(chi2PValue(chi2, k - 1)), c)
    }
  }

  test("histograms: +-inf, NaN, null, min = max, the max edge, float and date columns") {
    // one count table holds every branch of pass B's `vd`: float, double,
    // long, date, timestamp and (null) string values
    val inf = Double.PositiveInfinity
    def d(x: Double): java.lang.Double = x
    val rows = (0 until 90).map { i =>
      Row(
        if (i % 9 == 0) null else d(i % 11),                              // 0..10: the max edge
        if (i == 3) d(inf) else d(i * 0.37),                               // +inf
        if (i == 4) d(-inf) else d(i % 7),                                 // -inf
        if (i == 5) d(Double.NaN) else d(i % 5),                           // NaN: no histogram
        if (i % 4 == 0) null else d(3.5),                                  // min = max
        if (i % 8 == 0) null else java.lang.Float.valueOf((i % 17) * 0.1f), // float
        if (i % 6 == 0) null else java.lang.Long.valueOf(i * 7919L % 1000 - 500), // long
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i * 37L % 500)),
        if (i % 10 == 0) null else new java.sql.Timestamp(i * 7919L % 400 * 3600017L), // ms
        if (i % 7 == 0) null else s"text ${i % 13}")
    }
    val names = Seq("edge", "pinf", "ninf", "nan", "const", "f", "l")
    val schema = StructType(names.take(5).map(StructField(_, DoubleType)) ++ Seq(
      StructField("f", FloatType), StructField("l", LongType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("s", StringType)))
    val df = frame(rows, schema, 9)
    // threshold 0: the constant column stays numeric and gets one bin
    val cfg = quiet.copy(lowCategoricalThreshold = 0)
    val p = withShufflePartitions(8)(Profiler.profile(df, cfg))
    def expected(value: org.apache.spark.sql.Column, bins: Long => Int): Option[Histogram] = {
      val v = value.cast("double")
      val r = df.agg(min(v), max(v), count_distinct(value.cast("string"))).head()
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      if (mn.isNaN || mx.isNaN) None
      else {
        val nBins = bins(r.getLong(2))
        val w = if (mx > mn) Some((mx - mn) / nBins) else None
        val bin = when(v.isNotNull && !isnan(v) && v =!= Double.PositiveInfinity &&
          v =!= Double.NegativeInfinity,
          w.fold(lit(0))(w => histogramBin(v, lit(mn), lit(w), lit(nBins - 1))))
        val counts = Array.fill(nBins)(0L)
        df.select(bin.as("bin")).where(col("bin").isNotNull).groupBy("bin").count()
          .collect().foreach { r =>
            val b = r.getInt(0)
            if (b >= 0 && b < nBins) counts(b) += r.getLong(1)
          }
        Some(Histogram(counts.toSeq, (0 to nBins).map(i => mn + i * w.getOrElse(1.0))))
      }
    }
    def same(a: Option[Histogram], b: Option[Histogram]): Boolean = (a, b) match {
      case (Some(x), Some(y)) => x.counts == y.counts && x.binEdges.size == y.binEdges.size &&
        x.binEdges.zip(y.binEdges).forall { case (e, f) => java.lang.Double.compare(e, f) == 0 }
      case _ => a.isEmpty && b.isEmpty
    }
    for (c <- names) {
      val got = p.columns.find(_.name == c).get.typed.asInstanceOf[NumericStats].histogram
      val want = expected(col(c), nd => math.min(cfg.histogramBins, math.max(1, nd.toInt)))
      assert(same(got, want), s"$c: $got vs $want")
    }
    assert(p.columns.find(_.name == "edge").get.typed.asInstanceOf[NumericStats]
      .histogram.get.counts.last > 0)
    for (c <- Seq("dt", "ts")) {
      val got = p.columns.find(_.name == c).get.typed.asInstanceOf[DateTimeStats].histogram
      assert(same(got, expected(unix_timestamp(col(c).cast("timestamp")), _ => cfg.histogramBins)), c)
    }
    assert(p.columns.find(_.name == "s").get.typed.asInstanceOf[CategoricalStats].topValues.size == 13)
  }

  test("char stats: supplementary code points, combining marks, empty strings, nulls") {
    // 700 CJK chars three times each, then 500 chars seen once: the
    // 1000-char cut falls among those, ordered by String (UTF-16) order,
    // where the fullwidth forms (U+FF01..) sort after the emoji
    // surrogates but before them in UTF-8 byte order.
    def chars(from: Int, n: Int) = (0 until n).map(i => new String(Character.toChars(from + i)))
    val high = chars(0x4e00, 700).grouped(7).map(_.mkString).toSeq
    val once = (chars(0x0410, 106) ++ chars(0xac00, 150) ++ chars(0x1f300, 150) ++
      chars(0xff01, 94)).grouped(5).map(_.mkString).toSeq
    val special = Seq("\ud83d\ude00", "\ud83d\udc4d\ud83c\udffd", "e\u0301", "\u00f1", "", null)
    val values = high.flatMap(Seq.fill(3)(_)) ++ once ++ special.flatMap(Seq.fill(4)(_))
    val df = frame(new scala.util.Random(3).shuffle(values).map(Row(_)),
      StructType(Seq(StructField("s", StringType))), 9)
    val p = withShufflePartitions(8)(Profiler.profile(df, quiet))
    val got = p.columns.head.typed.asInstanceOf[CategoricalStats].chars.get
    val want = ranked(df.select(explode(split(col("s"), "")).as("ch"))
      .where(length(col("ch")) > 0).groupBy("ch").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq).take(1000)
    def rollup(f: Int => String) = want.groupBy { case (ch, _) => f(ch.codePointAt(0)) }
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(got.nCharacters == want.map(_._2).sum)
    assert(got.nCharactersDistinct == want.size)
    assert(got.topChars == want.take(100))
    assert(got.scriptCounts == rollup(cp => Character.UnicodeScript.of(cp).name))
    assert(got.blockCounts == rollup(cp => String.valueOf(Character.UnicodeBlock.of(cp))))
    assert(want.exists(_._1 == "\ud83c\udf00") && !want.exists(_._1 == "\uff01"))
  }

  test("duplicates: more groups than the listing, ties at the cut, both modes") {
    // 6 groups of 4 rows and 14 of 3: the 10-row listing cuts the 3s
    val groups = (0 until 6).map(g => (g, 4)) ++ (6 until 20).map(g => (g, 3)) ++
      (20 until 28).map(g => (g, 2))
    val rows = new scala.util.Random(5).shuffle(
      groups.flatMap { case (g, n) => Seq.fill(n)(Row(s"g$g", g.toLong, if (g % 3 == 0) null else g * 0.5)) } ++
        (100 until 160).map(i => Row(s"u$i", i.toLong, i * 0.5)))
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("n", LongType), StructField("x", DoubleType)))
    val df = frame(rows, schema, 9)
    val names = schema.fieldNames.toSeq
    val exact = df.groupBy(names.map(col): _*).count().collect()
      .map(r => names.indices.map(i => names(i) -> Option(r.get(i)).map(_.toString).orNull)
        .toMap -> r.getLong(names.size)).toMap
    val head = ProfileConfig.default.duplicatesHead
    val topCounts = exact.values.filter(_ > 1).toSeq.sorted.reverse.take(head)
    // pass F's SQL: groups on the 128-bit row hash, listing order
    // (cnt desc, h1, h2)
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    val hashEx = names.flatMap(c => Seq(col(c), isnull(col(c)))).map(ColumnBridge.expression)
    val h1 = ColumnBridge.column(XxHash64(hashEx, 42L)).as("h1")
    val h2 = ColumnBridge.column(XxHash64(hashEx, -7046029254386353131L)).as("h2")
    val hashed = df.select((names.map(col) :+ h1 :+ h2): _*)
    val listed = hashed.groupBy("h1", "h2").count().where(col("count") > 1)
      .orderBy(col("count").desc, col("h1"), col("h2")).limit(head)
      .join(hashed.dropDuplicates("h1", "h2"), Seq("h1", "h2")).collect()
      .map(r => names.map(c => c -> Option(r.getAs[Any](c)).map(_.toString).orNull).toMap ->
        r.getAs[Long]("count")).toSet
    val p = withShufflePartitions(8)(Profiler.profile(df, quiet.copy(computeDuplicates = true)))
    assert(p.nDuplicates == rows.size - exact.size)
    assert(p.duplicateRows.map(_._2) == topCounts)
    assert(p.duplicateRows.forall { case (vals, n) => exact.get(vals).contains(n) })
    // every group above the cut's count is listed
    assert(exact.filter(_._2 > topCounts.last).toSet.subsetOf(p.duplicateRows.toSet))
    assert(p.duplicateRows.toSet == listed)
  }

  test("a profile read at 120 partitions equals the 2-partition profile") {
    val rnd = new scala.util.Random(17)
    // rows with i % 10 == 0 fall into three duplicate groups of 100
    val rows = (0 until 3000).map { i =>
      val dup = i % 10 == 0
      Row(
        if (dup) "dup" else s"w${rnd.nextInt(400)} \u00e9\ud83d\ude00${i % 7}",
        if (dup) (i % 30).toLong else rnd.nextInt(900).toLong,
        if (i % 50 == 7) null
        else java.lang.Double.valueOf(if (dup) 1.5 else rnd.nextInt(3000) * 0.25),
        if (dup) "x" else Seq("A", "N", "R")(rnd.nextInt(3)),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          if (dup) 5L else rnd.nextInt(2000).toLong)))
    }
    val schema = StructType(Seq(StructField("txt", StringType), StructField("id", LongType),
      StructField("price", DoubleType), StructField("flag", StringType),
      StructField("day", DateType)))
    val cfg = ProfileConfig.default.copy(computeSpearman = true, computeKendall = true)
    def run(parts: Int) = withShufflePartitions(parts)(
      Profiler.profile(frame(rows, schema, parts), cfg))
    val (wide, narrow) = (run(120), run(2))
    def countStats(p: TableProfile) = p.columns.map { c =>
      val typed = c.typed match {
        case s: NumericStats => (s.histogram, s.chiSquaredP)
        case s: CategoricalStats => (s.topValues, s.chars, s.chiSquaredP)
        case s: DateTimeStats => s.histogram
        case other => other
      }
      (c.name, c.profileType, c.common, typed)
    }
    assert(countStats(wide) == countStats(narrow))
    assert(wide.nDuplicates == narrow.nDuplicates && wide.nDuplicates > 0)
    assert(wide.duplicateRows == narrow.duplicateRows)
  }
}
