package graft.profile

import graft.SparkSpec
import java.sql.Timestamp

/** Golden per-stat tests, porting the reference's hard-coded expectations
  * (reference: tests/unit/test_describe.py:70-260, values recomputed with
  * pandas for full precision — see FIXTURES.md §1). */
class ProfilerSpec extends SparkSpec {

  private lazy val fixture = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(
      // id, x, y, cat, s1, bool_tf, bool_01, somedate
      Row("b", 50.0, 0.000001, "a", 1.0, true, 0, Timestamp.valueOf("1937-05-06 00:00:00")),
      Row("c", 50.0, 654.152, "long text value", 1.0, false, 1, Timestamp.valueOf("1944-12-28 00:00:00")),
      Row("d", -10.0, null, "Élysée", 1.0, true, 1, null),
      Row("d", 0.0, 100.0, "", 1.0, true, 0, Timestamp.valueOf("1970-01-01 00:00:00")),
      Row("e", 0.0, 0.0, null, 1.0, false, 1, Timestamp.valueOf("1983-08-04 00:00:00")),
      Row("f", 5.0, 0.954, "some <b> B.s </div>", 1.0, false, 0, Timestamp.valueOf("1990-01-01 00:00:00")),
      Row("g", 15.0, 0.954, "c", 1.0, true, 1, Timestamp.valueOf("1999-03-31 00:00:00")),
      Row("h", -3.0, 0.954, "c", 1.0, true, 0, Timestamp.valueOf("2012-07-02 00:00:00")),
      Row("i", null, 3122.0, "c", 1.0, true, 1, Timestamp.valueOf("2022-01-11 00:00:00"))
    )
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("cat", StringType),
      StructField("s1", DoubleType), StructField("bool_tf", BooleanType),
      StructField("bool_01", IntegerType), StructField("somedate", TimestampType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  private lazy val profile = Profiler.profile(
    fixture,
    ProfileConfig.default.copy(exactQuantiles = true, persist = false))

  private def colP(name: String): ColumnProfile =
    profile.columns.find(_.name == name).get
  private def num(name: String): NumericStats =
    colP(name).typed.asInstanceOf[NumericStats]
  private def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  test("x: counts and missing") {
    val c = colP("x").common
    assert(c.n == 9); assert(c.count == 8); assert(c.nMissing == 1)
    assert(c.nDistinct == 6)
    assert(c.nUnique == 4) // -10, 5, 15, -3 occur once; 50 and 0 twice
  }

  test("x: moments match pandas (bias-corrected)") {
    val s = num("x")
    assert(approx(s.mean, 13.375))
    assert(approx(s.std, 23.68807716974934))
    assert(approx(s.variance, 561.125))
    assert(approx(s.skewness, 1.0851622393567655))
    assert(approx(s.kurtosis, -0.5029285892900379))
    assert(s.min == -10.0 && s.max == 50.0 && s.sum == 107.0)
    assert(s.nZeros == 2)
    assert(s.nInfinite == 0)
  }

  test("x: exact quantiles + MAD match pandas/numpy") {
    val s = num("x")
    assert(approx(s.quantiles(0.05), -7.55))
    assert(approx(s.quantiles(0.25), -0.75))
    assert(approx(s.quantiles(0.5), 2.5))
    assert(approx(s.quantiles(0.75), 23.75))
    assert(approx(s.quantiles(0.95), 50.0))
    assert(approx(s.mad, 9.0))
    assert(approx(s.iqr, 24.5))
  }

  test("y: skewed distribution stats") {
    val s = num("y")
    assert(approx(s.mean, 484.876750125))
    assert(approx(s.skewness, 2.612234664849946))
    assert(approx(s.kurtosis, 6.955694326032086))
    assert(approx(s.mad, 0.9539995))
  }

  test("s1: constant numeric demoted to categorical with CONSTANT alert") {
    assert(colP("s1").profileType == ProfileType.Categorical)
    assert(profile.alerts.exists(a =>
      a.kind == "CONSTANT" && a.column.contains("s1")))
  }

  test("bool_01: low-cardinality numeric demoted to categorical") {
    assert(colP("bool_01").profileType == ProfileType.Categorical)
  }

  test("bool_tf: boolean stats reachable (reference bug fixed)") {
    assert(colP("bool_tf").profileType == ProfileType.Bool)
    val b = colP("bool_tf").typed.asInstanceOf[BooleanStats]
    assert(b.nTrue == 6 && b.nFalse == 3)
    assert(b.top && b.freq == 6)
  }

  test("cat: top values, lengths, unicode chars") {
    val c = colP("cat")
    val cs = c.typed.asInstanceOf[CategoricalStats]
    assert(cs.topValues.head == ("c", 3))
    val l = cs.lengths.get
    assert(l.minLength == 0 && l.maxLength == 19)
    val chars = cs.chars.get
    assert(chars.topChars.nonEmpty)
    assert(chars.scriptCounts.contains("LATIN"))
  }

  test("somedate: datetime range") {
    val d = colP("somedate").typed.asInstanceOf[DateTimeStats]
    assert(d.minEpochSec == Timestamp.valueOf("1937-05-06 00:00:00").getTime / 1000)
    assert(d.maxEpochSec == Timestamp.valueOf("2022-01-11 00:00:00").getTime / 1000)
    assert(profile.alerts.exists(a =>
      a.kind == "TYPE_DATE" && a.column.contains("somedate")))
  }

  test("id: not unique, n_distinct 8 of 9") {
    val c = colP("id").common
    assert(c.nDistinct == 8); assert(!c.isUnique)
  }

  test("histogram counts sum to non-null count") {
    val s = num("x")
    val h = s.histogram.get
    assert(h.counts.sum == 8)
    assert(h.binEdges.size == h.counts.size + 1)
    assert(h.binEdges.head == s.min && approx(h.binEdges.last, s.max))
  }

  test("no duplicate rows in fixture") {
    assert(profile.nDuplicates == 0)
  }

  test("hash-pair duplicates == exact full-row groupBy (count and listing counts)") {
    import org.apache.spark.sql.functions.col
    val doubled = fixture.union(fixture)
    val h = Profiler.profile(doubled,
      ProfileConfig.default.copy(persist = false,
        computeCorrelations = false, computeCramers = false,
        computeCharStats = false))
    val names = doubled.columns.toSeq
    val groups = doubled.groupBy(names.map(col): _*).count().collect().map(r =>
      names.indices.map(i => names(i) -> Option(r.get(i)).map(_.toString).orNull).toMap ->
        r.getLong(names.size))
    assert(h.nDuplicates == doubled.count() - groups.length)
    // every group is a pair and all of them fit the listing; the listing
    // order breaks ties by hash, so compare as sets
    assert(groups.forall(_._2 == 2) && groups.length <= ProfileConfig.default.duplicatesHead)
    assert(h.duplicateRows.toSet == groups.toSet)
  }

  test("hash-pair duplicates: null position, -0.0/0.0 and NaN match groupBy equality") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType),
      StructField("d", DoubleType)))
    // ("a", null, 1.0) vs (null, "a", 1.0): the null-skipping hash mixer
    // would merge these without the interleaved null flags
    val swapped = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("a", null, 1.0), Row(null, "a", 1.0)), 2), schema)
    val ps = Profiler.profile(swapped, ProfileConfig.minimal.copy(
      persist = false, computeDuplicates = true))
    assert(ps.nDuplicates == 0)
    // -0.0 == 0.0 and NaN == NaN under groupBy/pandas key equality:
    // each pair must count as one duplicate
    val zeros = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("r", "r", 0.0), Row("r", "r", -0.0),
      Row("n", "n", Double.NaN), Row("n", "n", Double.NaN)), 2), schema)
    val pz = Profiler.profile(zeros, ProfileConfig.minimal.copy(
      persist = false, computeDuplicates = true))
    assert(pz.nDuplicates == 2)
  }

  test("duplicated input doubles rows and flags duplicates") {
    val doubled = Profiler.profile(fixture.union(fixture),
      ProfileConfig.default.copy(persist = false,
        computeCorrelations = false, computeCramers = false,
        computeCharStats = false))
    assert(doubled.nDuplicates == 9)
    assert(doubled.alerts.exists(_.kind == "DUPLICATES"))
    assert(doubled.duplicateRows.nonEmpty)
    assert(doubled.duplicateRows.forall(_._2 == 2))
  }

  test("correlation matrix present and symmetric") {
    val pearson = profile.correlations.find(_.method == "pearson").get
    assert(pearson.columns == Seq("x", "y"))
    assert(pearson.values(0)(1) == pearson.values(1)(0))
  }

  test("co-moment Pearson equals corr: nulls, NaN, +-inf, constant, n < 2") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, corr}
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val a = rnd.nextGaussian() * 1e3 + 5e6
      def sometimesNull(v: Double) = if (rnd.nextInt(10) == 0) null else v
      Row(sometimesNull(a), sometimesNull(0.3 * a + rnd.nextGaussian()),
        if (i == 17) null else 4.25,                        // constant
        if (i == 40) Double.NaN else rnd.nextDouble(),      // one NaN
        if (i == 41) Double.PositiveInfinity else i.toDouble,
        if (i == 42) Double.NegativeInfinity else -i.toDouble,
        if (i == 5) 1.0 else null)                          // n = 1
    }
    val names = Seq("a", "b", "k", "nan", "pinf", "ninf", "one")
    // past 64 partitions the partials merge on the executors first
    for (parts <- Seq(3, 100)) {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
        StructType(names.map(StructField(_, DoubleType))))
      val Seq(got) = Profiler.coMomentCorrelations(df, names, None)
      assert(got.method == "pearson")
      val pairs = for { i <- names.indices; j <- (i + 1) until names.size } yield (i, j)
      // ANSI corr raises DIVIDE_BY_ZERO on a zero variance; without ANSI
      // it returns null there, which the matrix reads as NaN
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val want = try df.agg(corr(col(names.head), col(names(1))),
        pairs.tail.map { case (i, j) => corr(col(names(i)), col(names(j))) }: _*).head()
      finally spark.conf.unset("spark.sql.ansi.enabled")
      pairs.zipWithIndex.foreach { case ((i, j), k) =>
        val w = if (want.isNullAt(k)) Double.NaN else want.getDouble(k)
        val g = got.values(i)(j)
        assert(java.lang.Double.compare(g, got.values(j)(i)) == 0)
        assert((w.isNaN && g.isNaN) || math.abs(w - g) <= 1e-12,
          s"${names(i)}/${names(j)}: corr $w, kernel $g")
      }
      assert(!got.values(0)(1).isNaN && got.values(0)(2).isNaN &&
        got.values(0)(3).isNaN && got.values(0)(4).isNaN && got.values(0)(6).isNaN)
    }
  }

  test("exact datetime histogram bins each instant of a DST fall-back hour") {
    // In New York, 05:30Z and 06:30Z both read 01:30 local on
    // 2021-11-07: one string, two instants, two bins. The date column
    // takes the string route next to it.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t0 = java.time.Instant.parse("2021-11-07T04:00:00Z").toEpochMilli
    val rows = Seq(0.0, 1.5, 1.5, 2.5, 4.0).map(h =>
      Row(new Timestamp(t0 + (h * 3600000).toLong),
        java.sql.Date.valueOf(java.time.LocalDate.of(2021, 11, 1 + (h * 2).toInt))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("ts", TimestampType), StructField("d", DateType))))
    val cfg = ProfileConfig.default.copy(persist = false)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val (exact, sketch) = try (Profiler.profile(df, cfg),
      Profiler.profile(df, cfg.copy(exactDistinct = false, exactQuantiles = false)))
    finally spark.conf.set("spark.sql.session.timeZone", tz)
    def hist(p: TableProfile, i: Int) =
      p.columns(i).typed.asInstanceOf[DateTimeStats].histogram.get
    assert(exact.columns.head.common.nDistinct == 4)
    for (i <- 0 to 1) assert(hist(exact, i).counts == hist(sketch, i).counts)
    assert(hist(exact, 0).counts.zipWithIndex.collect { case (n, b) if n > 0 => b -> n } ==
      Seq(0 -> 1L, 18 -> 2L, 31 -> 1L, 49 -> 1L))
  }

  test("flagship profile issues a fixed number of Spark queries") {
    // Each distinct query compiles its own whole-stage classes. Spark's
    // codegen cache holds 100 of them in 4 segments of 25 entries, each
    // evicting on its own, so a warm profile's working set must sit well
    // below 100 or every profile recompiles it: a pass that adds a query
    // must show up here.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.graft.ListenerProbe
    val rows = (0 until 60).map { i =>
      Row(s"s${i % 7}", i.toLong * 31 % 50, (i % 13) * 0.5 + i, (i % 3).toFloat,
        i % 2 == 0, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i % 20L)),
        new Timestamp(i * 3600000L), s"word${i % 40} w${i % 9}")
    }
    val schema = StructType(Seq(
      StructField("cat", StringType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("txt", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val cfg = ProfileConfig.default.copy(computeSpearman = true, computeKendall = true)
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = queries.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerProbe.drain(spark)
    spark.listenerManager.register(listener)
    try {
      Profiler.profile(df, cfg)
      ListenerProbe.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    assert(queries.size == 12, s"Spark queries per flagship profile: $queries")
  }

  test("table stats rollup") {
    assert(profile.table.n == 9)
    assert(profile.table.nVar == 8)
    assert(profile.missingCounts("x") == 1)
    assert(profile.missingCounts("y") == 1)
  }

  test("JSON sink has the reference's top-level keys") {
    val json = ProfileJson.toJson(profile)
    for (k <- Seq("analysis", "table", "variables", "scatter", "correlations",
        "missing", "messages", "package", "sample", "duplicates"))
      assert(json.contains("\"" + k + "\""), s"missing key $k")
    assert(json.contains("bin_edges"))
  }

  test("JSON sink GOLDEN contract: exact reference key set + structure") {
    // the reference's asserted output contract
    // (tests/unit/test_output.py:14-29): this is EXACTLY the top-level
    // key set, no more, no fewer
    import org.json4s._
    val root = ProfileJson.toJValue(profile).asInstanceOf[JObject]
    val topKeys = root.obj.map(_._1).toSet
    assert(topKeys === Set("analysis", "table", "variables", "scatter",
      "correlations", "missing", "messages", "package", "sample",
      "duplicates"), s"top-level keys drifted: $topKeys")
    def obj(k: String): JObject =
      root.obj.find(_._1 == k).get._2.asInstanceOf[JObject]
    // variables: one entry per input column, keyed by column name
    val vars = obj("variables")
    assert(vars.obj.map(_._1).toSet === profile.columns.map(_.name).toSet)
    // numeric variable: histogram encodes as {counts, bin_edges} with
    // len(bin_edges) == len(counts) + 1 (model/summarizer.py:148-153)
    // and the counts sum to the binnable observations
    val x = vars.obj.find(_._1 == "x").get._2.asInstanceOf[JObject].obj.toMap
    val hist = x("histogram").asInstanceOf[JObject].obj.toMap
    assert(hist.keySet === Set("counts", "bin_edges"))
    val counts = hist("counts").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JInt].num.toLong)
    val edges = hist("bin_edges").asInstanceOf[JArray].arr
    assert(edges.size == counts.size + 1,
      s"${edges.size} edges for ${counts.size} counts")
    val xCol = profile.columns.find(_.name == "x").get
    val xStats = xCol.typed.asInstanceOf[NumericStats]
    assert(counts.sum == xCol.common.count - xStats.nInfinite)
    // quantile keys use the reference's percent style
    val qKeys = x("quantiles").asInstanceOf[JObject].obj.map(_._1).toSet
    assert(qKeys === Set("5%", "25%", "50%", "75%", "95%"))
    // messages: one "[KIND] column: detail" line per alert
    val msgArr = root.obj.find(_._1 == "messages").get._2
      .asInstanceOf[JArray].arr
    assert(msgArr.size == profile.alerts.size)
    assert(msgArr.forall(m =>
      m.asInstanceOf[JString].s.matches("\\[[A-Z_]+\\] .+")))
    // package self-identifies
    assert(obj("package").obj.map(_._1).toSet === Set("name", "version"))
    // duplicates carries the count and the head listing
    assert(obj("duplicates").obj.map(_._1).toSet ===
      Set("n_duplicates", "head"))
  }

  test("HTML sink renders every variable section + overview/sample") {
    val html = ProfileHtml.toHtml(profile)
    assert(html.startsWith("<!DOCTYPE html>"))
    for (sec <- Seq("Overview", "Alerts", "Variables", "Correlations",
        "Sample"))
      assert(html.contains(s"<h2>$sec</h2>"), s"missing section $sec")
    for (c <- profile.columns)
      assert(html.contains(s"<h3>${c.name} "), s"missing variable ${c.name}")
  }

  test("HTML sink byte-stable snapshot (committed golden)") {
    // The renderer embeds NO volatile fields (no generation timestamp,
    // no durations, no hostnames), and the fixture + profile config are
    // fully deterministic, so the rendered report is byte-stable and a
    // committed snapshot closes the last sink gap (the structural test
    // below checks shape; this one pins every byte of the rendering —
    // number formatting, SVG geometry, escaping, section order).
    // Regenerate intentionally with SPARK_GRAFT_WRITE_SNAPSHOT=1 after
    // a deliberate renderer change; the diff then reviews as a diff of
    // this file.
    val html = ProfileHtml.toHtml(profile)
    val path = java.nio.file.Paths.get(
      "src/test/resources/profile_snapshot.html")
    if (sys.env.get("SPARK_GRAFT_WRITE_SNAPSHOT").contains("1")) {
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path, html)
    }
    assert(java.nio.file.Files.exists(path),
      s"snapshot missing — run once with SPARK_GRAFT_WRITE_SNAPSHOT=1")
    val want = java.nio.file.Files.readString(path)
    if (html != want) {
      val i = html.zip(want).indexWhere { case (a, b) => a != b }
      val at = if (i < 0) math.min(html.length, want.length) else i
      val ctx = 60
      fail(s"HTML snapshot drifted at byte $at:\n  got  ...${
        html.slice(at - ctx, at + ctx)}...\n  want ...${
        want.slice(at - ctx, at + ctx)}...\n(lengths ${html.length} vs ${
        want.length}; regenerate deliberately with SPARK_GRAFT_WRITE_SNAPSHOT=1)")
    }
  }

  test("MapType column profiles as Categorical via canonicalization") {
    import org.apache.spark.sql.functions.{col, map, lit}
    import spark.implicits._
    // maps with permuted construction order must canonicalize equal
    val df = Seq(1, 2, 3, 4).toDF("i").select(
      org.apache.spark.sql.functions.when(col("i") % 2 === 0,
          map(lit("a"), lit("x"), lit("b"), lit("y")))
        .otherwise(map(lit("b"), lit("y"), lit("a"), lit("x"))).as("m"),
      col("i"))
    val p = Profiler.profile(df,
      ProfileConfig.minimal.copy(exactDistinct = true, persist = false,
        computeDuplicates = true))
    val m = p.columns.find(_.name == "m").get
    assert(m.profileType == ProfileType.Categorical)
    assert(m.sparkType.startsWith("map<"))
    val cat = m.typed.asInstanceOf[CategoricalStats]
    // all four rows: same map, sorted. On the rare full-suite flake
    // (NOTES_r5) this came back 2 — topValues in the message shows
    // WHICH canonical strings existed
    assert(m.common.nDistinct == 1,
      s"nDistinct=${m.common.nDistinct}, topValues=${cat.topValues}")
    assert(cat.topValues.head == ("[{a, x}, {b, y}]", 4L))
    // duplicates group on the canonical form too: 4 rows of (m) alone
    // would be 1 distinct; with unique i alongside, zero duplicates
    assert(p.nDuplicates == 0)
    val pMapOnly = Profiler.profile(df.select("m"),
      ProfileConfig.minimal.copy(exactDistinct = true, persist = false,
        computeDuplicates = true))
    assert(pMapOnly.nDuplicates == 3)
  }

  test("uniqueness parametrization (reference test_describe.py:20-46)") {
    import spark.implicits._
    val p1 = Profiler.profile(Seq(1, 2).toDF("v"),
      ProfileConfig.minimal.copy(exactDistinct = true, persist = false))
    assert(p1.columns.head.common.isUnique)
    val p2 = Profiler.profile(Seq(1, 2, 2).toDF("v"),
      ProfileConfig.minimal.copy(exactDistinct = true, persist = false))
    val c2 = p2.columns.head.common
    assert(approx(c2.pDistinct, 2.0 / 3))
    assert(approx(c2.pUnique, 1.0 / 3))
    assert(!c2.isUnique)
  }

  test("a failing pass releases the job pool and the cached tables") {
    // A column that raises on evaluation fails every pass that scans it.
    // The failure must still shut the pool down (its threads are
    // non-daemon: left alive they keep a CLI JVM running after main
    // throws) and unpersist the input and pass B's count tables.
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    import org.apache.spark.sql.graft.CacheProbe
    def liveUserThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val df = spark.range(0, 400).select(
      col("id").cast("double").as("x"),
      (col("id") % 7).cast("string").as("cat"),
      when(col("id") > 300, raise_error(lit("planted failure")))
        .otherwise(col("id")).as("bad"))
    val cfg = ProfileConfig.default.copy(persist = true, computeSpearman = true)
    Profiler.profile(df.drop("bad"), cfg) // Spark starts its lazy threads here
    val cachedBefore = CacheProbe.entries(spark)
    val threadsBefore = liveUserThreads()
    val e = intercept[Exception](Profiler.profile(df, cfg))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted failure")), e)
    assert(CacheProbe.entries(spark) <= cachedBefore)
    eventually(timeout(Span(10, Seconds))) {
      val leaked = liveUserThreads() -- threadsBefore
      assert(leaked.isEmpty, leaked.map(_.getName))
    }
  }
}
