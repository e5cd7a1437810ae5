package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.StatFunctions._

/** One named query: the Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. Column names/aliases MUST match between both.
  *
  * Determinism rules (so value hashes match bit-for-bit):
  *   - money sums go through DECIMAL(18,2) (exact) then cast to double;
  *   - iterative float stats (stddev/skew/corr) are rounded to absorb
  *     last-ulp implementation differences;
  *   - bin arithmetic uses pure IEEE expressions identical in both engines;
  *   - every result has a total ORDER BY.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

object QueryCatalog {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` normalized to an integer epoch-MICROSECONDS
    * long, whatever physical type the generated parquet carries:
    * TIMESTAMP(NANOS) data arrives as an epoch-nanos long (every
    * entrypoint sets spark.sql.legacy.parquet.nanosAsLong), while
    * TIMESTAMP(MICROS) data arrives as TIMESTAMP or TIMESTAMP_NTZ.
    * The session timezone is pinned to UTC by every entrypoint, so the
    * NTZ→TIMESTAMP cast is the identity on the stored value and
    * unix_micros returns exactly the integer the file stores — the
    * same integer DuckDB's epoch_us(ts) sees, so oracle boundary
    * predicates agree exactly in every case. */
  def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "events")
    val us = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000") // epoch-nanos long
      case _        => unix_micros(col("ts").cast("timestamp"))
    }
    df.withColumn("ts", us)
  }

  // ------------------------------------------------------------------
  // §2.2/2.3 counts, missing, distinct/unique
  // ------------------------------------------------------------------

  /** Row/non-null/missing counts (reference: describe_counts_spark +
    * describe_generic_spark, summary_algorithms.py:512-535). */
  val qCounts = Q(
    "q01_counts",
    (s, dir) => {
      val df = table(s, dir, "events")
      df.agg(
        count(lit(1)).as("n"),
        count(col("value")).as("n_value"),
        (count(lit(1)) - count(col("value"))).as("n_missing_value"),
        (count(col("value")).cast("double") / count(lit(1))).as("p_value"))
    },
    Some("""SELECT count(*) AS n, count(value) AS n_value,
      count(*) - count(value) AS n_missing_value,
      CAST(count(value) AS DOUBLE) / count(*) AS p_value FROM events"""))

  /** Exact n_distinct + n_unique (values occurring exactly once) from one
    * groupBy — pandas semantics, NOT the reference spark impl which
    * conflates them (series_wrappers.py:167-171). */
  val qDistinctUnique = Q(
    "q02_distinct_unique",
    (s, dir) => {
      val vc = table(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull)
        .groupBy("l_quantity").agg(count(lit(1)).as("c"))
      vc.agg(
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_unique"))
    },
    Some("""SELECT count(*) AS n_distinct,
      CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      FROM (SELECT l_quantity, count(*) AS c FROM lineitem
            WHERE l_quantity IS NOT NULL GROUP BY l_quantity)"""))

  /** Missing-value bar diagram: per-column null counts in ONE aggregate
    * (reference: nan_counts, dataframe_wrappers.py:552-571). */
  val qMissingCounts = Q(
    "q03_missing_counts",
    (s, dir) => {
      val df = table(s, dir, "events")
      val exprs = df.columns.toSeq.map(c =>
        (count(lit(1)) - count(col(c))).as(s"miss_$c"))
      df.agg(exprs.head, exprs.tail: _*)
    },
    Some("""SELECT count(*) - count(event_id) AS miss_event_id,
      count(*) - count(ts) AS miss_ts,
      count(*) - count(user_id) AS miss_user_id,
      count(*) - count(event_type) AS miss_event_type,
      count(*) - count(value) AS miss_value,
      count(*) - count(props) AS miss_props FROM events"""))

  // ------------------------------------------------------------------
  // §2.3 numeric aggregates
  // ------------------------------------------------------------------

  /** The fused numeric-moments job (reference: numeric_stats_spark,
    * summary_algorithms.py:166-197) with bias-corrected skew/kurt.
    * Sum/mean go through DECIMAL for bitwise determinism. */
  val qMoments = Q(
    "q04_numeric_moments",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      val x = col("l_extendedprice")
      val exactSum = sum(x.cast(DecimalType(18, 2))).cast("double")
      df.agg(
        count(x).as("n"),
        exactSum.as("sum_x"),
        (exactSum / count(x)).as("mean_x"),
        round(stddev_samp(x), 4).as("std_x"),
        round(var_samp(x), 4).as("var_x"),
        min(x).cast("double").as("min_x"),
        max(x).cast("double").as("max_x"),
        round(correctedSkewness(x), 6).as("skew_x"),
        round(correctedKurtosis(x), 6).as("kurt_x"))
    },
    Some("""SELECT count(l_extendedprice) AS n,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS mean_x,
      round(stddev_samp(l_extendedprice), 4) AS std_x,
      round(var_samp(l_extendedprice), 4) AS var_x,
      CAST(min(l_extendedprice) AS DOUBLE) AS min_x,
      CAST(max(l_extendedprice) AS DOUBLE) AS max_x,
      round(skewness(l_extendedprice), 6) AS skew_x,
      round(kurtosis(l_extendedprice), 6) AS kurt_x FROM lineitem"""))

  /** Exact interpolated quantiles (reference quantile set
    * config_default.yaml:28-33). Spark `percentile` and DuckDB
    * `quantile_cont` share the numpy-linear definition. */
  val qQuantiles = Q(
    "q05_quantiles",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      // ONE percentile buffer per column (an array-probabilities call),
      // not one sorted copy of the data per requested quantile
      df.agg(
          expr("percentile(l_extendedprice, array(0.05,0.25,0.5,0.75,0.95))")
            .as("qs"),
          expr("percentile(l_quantity, 0.5)").as("qty"))
        .select(
          round(element_at(col("qs"), 1), 6).as("p05"),
          round(element_at(col("qs"), 2), 6).as("p25"),
          round(element_at(col("qs"), 3), 6).as("p50"),
          round(element_at(col("qs"), 4), 6).as("p75"),
          round(element_at(col("qs"), 5), 6).as("p95"),
          round(col("qty"), 6).as("qty_p50"))
    },
    Some("""SELECT
      round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
      round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
      round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
      round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
      round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50 FROM lineitem"""))

  /** Median absolute deviation (reference: summary_algorithms.py:584-591)
    * in ONE table scan: explode the four columns to (ordinal, value)
    * pairs, aggregate distinct-value COUNTS once, then derive both the
    * median and the median of |x - median| from that counts table via
    * `percentile(v, 0.5, cnt)` — Spark's exact percentile over a
    * frequency column is semantically the percentile of the expanded
    * multiset, so this equals the profiler's 2-pass construction while
    * reading the parquet once and re-aggregating only the (much
    * smaller) counts. The counts table is lazily localCheckpointed
    * because both stages consume it. DuckDB's mad() is
    * quantile_cont-consistent, so values match to rounding. */
  val qMad = Q(
    "q46_mad",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val counts = df
        .select(posexplode(
          array(cols.map(c => col(c).cast("double")): _*))
          .as(Seq("cid", "v")))
        .where(col("v").isNotNull)
        .groupBy("cid", "v").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val med = counts.groupBy("cid")
        .agg(expr("percentile(v, 0.5d, cnt)").as("med"))
      val mad = counts.join(broadcast(med), "cid")
        .groupBy("cid")
        .agg(expr("percentile(abs(v - med), 0.5d, cnt)").as("mad"))
      val aggs = cols.zipWithIndex.map { case (c, i) =>
        round(max(when(col("cid") === i, col("mad"))), 6).as(s"mad_$c") }
      mad.agg(aggs.head, aggs.tail: _*)
    },
    Some("""SELECT
      round(mad(l_quantity), 6) AS mad_l_quantity,
      round(mad(l_extendedprice), 6) AS mad_l_extendedprice,
      round(mad(l_discount), 6) AS mad_l_discount,
      round(mad(l_tax), 6) AS mad_l_tax
      FROM lineitem"""))

  /** Zero/negative predicate counts (reference: summary_algorithms.py:556-561). */
  val qZeros = Q(
    "q06_zeros",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      df.agg(
        count(when(col("l_discount") === 0, 1)).as("n_zeros_discount"),
        count(when(col("l_tax") === 0, 1)).as("n_zeros_tax"),
        count(when(col("l_quantity") < 0, 1)).as("n_neg_quantity"))
    },
    Some("""SELECT
      CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros_discount,
      CAST(sum(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros_tax,
      CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_quantity
      FROM lineitem"""))

  /** Top-K value counts (reference: value_counts + to_pandas_limit,
    * series_wrappers.py:104-131, summary_algorithms.py:460-476). */
  val qValueCounts = Q(
    "q07_value_counts",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("value"))
        .limit(10),
    Some("""SELECT l_returnflag AS value, count(*) AS cnt FROM lineitem
      GROUP BY l_returnflag ORDER BY cnt DESC, value LIMIT 10"""))

  /** Exact fixed-width histogram, two-pass (SURVEY §2.3: the reference's
    * spark path approximates via top-250 value counts,
    * summary_algorithms.py:608-618; we do the exact RDD.histogram
    * analogue with pure-IEEE bin arithmetic). */
  val qHistogram = Q(
    "q08_histogram",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      val Array(mn, mx) = df
        .agg(min(col("l_extendedprice")).cast("double"),
          max(col("l_extendedprice")).cast("double"))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      df.select(histogramBin(col("l_extendedprice"), mn, mx, 50).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
    },
    Some("""WITH st AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) mn,
                               CAST(max(l_extendedprice) AS DOUBLE) mx FROM lineitem)
      SELECT CAST(least(floor((l_extendedprice - st.mn) / ((st.mx - st.mn) / 50)), 49) AS INT) AS bin,
             count(*) AS cnt
      FROM lineitem, st GROUP BY bin ORDER BY bin"""))

  // ------------------------------------------------------------------
  // §2.3 table-level: duplicates
  // ------------------------------------------------------------------

  /** Duplicate-row count with pandas semantics: n - distinct rows, as a
    * single groupBy plan (reference spec: dataframe_wrappers.py:284-294;
    * the spark impl at :542-550 is identically zero and not copied). */
  val qDuplicateCount = Q(
    "q09_duplicate_count",
    (s, dir) =>
      table(s, dir, "documents")
        .groupBy("doc_id", "text", "lang", "source", "n_chars")
        .agg(count(lit(1)).as("c"))
        .agg((sum(col("c")) - count(lit(1))).cast("long").as("n_duplicates")),
    Some("""SELECT CAST(sum(c) - count(*) AS BIGINT) AS n_duplicates
      FROM (SELECT count(*) AS c FROM documents
            GROUP BY doc_id, text, lang, source, n_chars)"""))

  /** Duplicate top-K listing over a projection (reference:
    * dataframe_wrappers.py:515-540 groupBy-all-columns pattern). */
  val qDuplicateTopK = Q(
    "q10_duplicate_topk",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .orderBy(col("cnt").desc, col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"))
        .limit(10),
    Some("""SELECT l_returnflag, l_linestatus, l_quantity, count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus, l_quantity
      HAVING count(*) > 1
      ORDER BY cnt DESC, l_returnflag, l_linestatus, l_quantity LIMIT 10"""))

  // ------------------------------------------------------------------
  // §2.5 bivariate
  // ------------------------------------------------------------------

  /** Pairwise Pearson correlations fused into one aggregate (reference:
    * correlations.py:90-137 does VectorAssembler + ml.stat; plain F.corr
    * keeps it in one whole-stage-codegen pass). */
  val qPearson = Q(
    "q11_pearson",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      df.agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 8).as("c_qty_price"),
        round(corr(col("l_quantity"), col("l_discount")), 8).as("c_qty_disc"),
        round(corr(col("l_extendedprice"), col("l_discount")), 8).as("c_price_disc"),
        round(corr(col("l_extendedprice"), col("l_tax")), 8).as("c_price_tax"))
    },
    Some("""SELECT round(corr(l_quantity, l_extendedprice), 8) AS c_qty_price,
      round(corr(l_quantity, l_discount), 8) AS c_qty_disc,
      round(corr(l_extendedprice, l_discount), 8) AS c_price_disc,
      round(corr(l_extendedprice, l_tax), 8) AS c_price_tax FROM lineitem"""))

  /** Spearman rank correlation via average ranks (tie-corrected),
    * reference: correlations.py:41-87. The ranks come from
    * [[graft.ops.Ranking]]'s two-phase distributed prefix sum — NOT a
    * global `Window.orderBy` (which would funnel the whole table through
    * one reducer at scale). Null rows never join a rank and are skipped
    * by corr — and since corr is invariant under a constant rank shift,
    * this matches the windowed oracle form exactly. */
  val qSpearman = Q(
    "q12_spearman",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
        .select(
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"))
      val kv = df
        .select(explode(array(
          struct(lit("x").as("k"), col("x").as("v")),
          struct(lit("y").as("k"), col("y").as("v")))).as("kv"))
        .select(col("kv.k").as("k"), col("kv.v").as("v"))
        .where(col("v").isNotNull && !col("v").isNaN)
      val ranks = graft.ops.Ranking.avgRanks(kv, "k", "v")
      val rx = ranks.where(col("k") === "x")
        .select(col("v").as("x"), col("avgrank").as("rx"))
      val ry = ranks.where(col("k") === "y")
        .select(col("v").as("y"), col("avgrank").as("ry"))
      df.join(rx, "x").join(ry, "y")
        .agg(round(corr(col("rx"), col("ry")), 8).as("spearman"))
    },
    Some("""WITH r AS (SELECT
        rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rx,
        rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
      FROM lineitem)
      SELECT round(corr(rx, ry), 8) AS spearman FROM r"""))

  /** Chi-square uniformity statistic from value counts, computed with the
    * shuffle-free identity chi2 = k*sum(c^2)/N - N (replaces reference
    * scipy.chisquare, summary_helpers.py:470-473). */
  val qUniformChi2 = Q(
    "q13_uniform_chi2",
    (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_linestatus").as("v")).agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("k"),
          round(
            count(lit(1)).cast("double") * sum(col("c") * col("c")) /
              sum(col("c")) - sum(col("c")),
            6).as("chi2")),
    Some("""SELECT count(*) AS k,
      round(CAST(count(*) AS DOUBLE) * sum(c * c) / sum(c) - sum(c), 6) AS chi2
      FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_linestatus)"""))

  /** Bias-corrected Cramer's V from the full contingency table, including
    * zero cells (reference: correlations.py:219-413 + corrected stat
    * :220-264, reimplemented as relational algebra instead of
    * StringIndexer+ChiSquareTest). */
  val qCramers = Q(
    "q14_cramers",
    (s, dir) => {
      val df = table(s, dir, "lineitem")
      val ct = df.groupBy(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
        .agg(count(lit(1)).cast("double").as("o"))
      val rowT = ct.groupBy("a").agg(sum(col("o")).as("ra"))
      val colT = ct.groupBy("b").agg(sum(col("o")).as("cb"))
      val n = ct.agg(sum(col("o")).as("n"))
      val full = rowT.crossJoin(colT).crossJoin(n)
        .join(ct, Seq("a", "b"), "left")
        .withColumn("o", coalesce(col("o"), lit(0.0)))
        .withColumn("e", col("ra") * col("cb") / col("n"))
      val agg = full.agg(
        sum(pow(col("o") - col("e"), 2) / col("e")).as("chi2"),
        first(col("n")).as("n"),
        countDistinct(col("a")).as("r"),
        countDistinct(col("b")).as("k"))
      agg.select(
        round(col("chi2"), 6).as("chi2"),
        round(
          sqrt(
            greatest(lit(0.0),
              col("chi2") / col("n") -
                (col("r") - 1) * (col("k") - 1) / (col("n") - 1)) /
              least(
                col("k") - pow(col("k") - 1, 2) / (col("n") - 1) - 1,
                col("r") - pow(col("r") - 1, 2) / (col("n") - 1) - 1)),
          6).as("cramers_v"))
    },
    Some("""WITH ct AS (SELECT l_returnflag a, l_linestatus b, CAST(count(*) AS DOUBLE) o
                        FROM lineitem GROUP BY 1, 2),
      rt AS (SELECT a, sum(o) ra FROM ct GROUP BY a),
      cl AS (SELECT b, sum(o) cb FROM ct GROUP BY b),
      tot AS (SELECT sum(o) n FROM ct),
      full_ct AS (SELECT rt.a, cl.b, rt.ra, cl.cb, tot.n,
                         coalesce(ct.o, 0.0) o, rt.ra * cl.cb / tot.n e
                  FROM rt CROSS JOIN cl CROSS JOIN tot
                  LEFT JOIN ct ON ct.a = rt.a AND ct.b = cl.b),
      agg AS (SELECT sum((o - e) * (o - e) / e) chi2, any_value(n) n,
                     count(DISTINCT a) r, count(DISTINCT b) k FROM full_ct)
      SELECT round(chi2, 6) AS chi2,
             round(sqrt(greatest(0.0, chi2 / n - (r - 1) * (k - 1) / (n - 1)) /
                        least(k - (k - 1) * (k - 1) / (n - 1) - 1,
                              r - (r - 1) * (r - 1) / (n - 1) - 1)), 6) AS cramers_v
      FROM agg"""))

  // ------------------------------------------------------------------
  // §2.3 strings & dates
  // ------------------------------------------------------------------

  /** String length stats — exact, not the reference's 10k sample
    * (summary_helpers.py:94-114). */
  val qLengthStats = Q(
    "q15_length_stats",
    (s, dir) => {
      val df = table(s, dir, "documents")
      val len = length(col("text"))
      df.agg(
        count(len).as("n"),
        min(len).as("min_len"),
        max(len).as("max_len"),
        (sum(len).cast("double") / count(len)).as("mean_len"),
        round(expr("percentile(length(text), 0.5)"), 6).as("median_len"))
    },
    Some("""SELECT count(length(text)) AS n,
      CAST(min(length(text)) AS INT) AS min_len,
      CAST(max(length(text)) AS INT) AS max_len,
      CAST(sum(length(text)) AS DOUBLE) / count(length(text)) AS mean_len,
      round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5), 6) AS median_len
      FROM documents"""))

  /** Character frequency via explode(split) — the reference's
    * spark_get_character_counts (summary_helpers.py:331-354). */
  val qCharFreq = Q(
    "q16_char_freq",
    (s, dir) =>
      table(s, dir, "documents")
        .select(explode(split(col("text"), "")).as("ch"))
        .where(length(col("ch")) > 0)
        .groupBy("ch").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ch"))
        .limit(30),
    Some("""SELECT ch, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
      WHERE length(ch) > 0
      GROUP BY ch ORDER BY cnt DESC, ch LIMIT 30"""))

  /** Length histogram over the exact length domain (small), groupBy
    * length — reference samples 10k rows instead (summary_helpers.py:98-109). */
  val qLengthHist = Q(
    "q17_length_hist",
    (s, dir) =>
      table(s, dir, "documents")
        .groupBy(length(col("text")).as("len")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("len")),
    Some("""SELECT CAST(length(text) AS INT) AS len, count(*) AS cnt
      FROM documents GROUP BY len ORDER BY len"""))

  /** Date min/max/range + distinct days (reference pandas-only path:
    * summary_algorithms.py:281-308 — the spark fork never had it). */
  val qDateStats = Q(
    "q18_date_stats",
    (s, dir) => {
      val df = table(s, dir, "orders")
      df.agg(
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("max_date"),
        datediff(max(col("o_orderdate")), min(col("o_orderdate"))).as("range_days"),
        countDistinct(to_date(col("o_orderdate"))).as("n_days"))
    },
    Some("""SELECT strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
      strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
      CAST(date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS INT) AS range_days,
      count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days FROM orders"""))

  /** Histogram over epoch seconds of a timestamp column (reference:
    * date histogram on epoch, summary_algorithms.py:297-305). */
  val qDateHistogram = Q(
    "q19_date_histogram",
    (s, dir) => {
      val df = table(s, dir, "orders")
        .select(unix_timestamp(col("o_orderdate")).cast("double").as("es"))
      val Array(mn, mx) = df.agg(min(col("es")), max(col("es")))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      df.select(histogramBin(col("es"), mn, mx, 20).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt")).orderBy("bin")
    },
    Some("""WITH e AS (SELECT CAST(epoch(o_orderdate) AS DOUBLE) es FROM orders),
      st AS (SELECT min(es) mn, max(es) mx FROM e)
      SELECT CAST(least(floor((es - st.mn) / ((st.mx - st.mn) / 20)), 19) AS INT) AS bin,
             count(*) AS cnt
      FROM e, st GROUP BY bin ORDER BY bin"""))

  /** Boolean top/freq (reference: summary_algorithms.py:672-689).
    * No boolean column ships in the testdata, so one is derived. */
  val qBoolStats = Q(
    "q20_bool_stats",
    (s, dir) => {
      val df = table(s, dir, "orders")
        .select((col("o_orderstatus") === "F").as("b"))
      df.agg(
        count(when(col("b"), 1)).as("n_true"),
        count(when(!col("b"), 1)).as("n_false"))
    },
    Some("""SELECT
      CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      CAST(sum(CASE WHEN NOT (o_orderstatus = 'F') THEN 1 ELSE 0 END) AS BIGINT) AS n_false
      FROM orders"""))

  val all: Seq[Q] = Seq(
    qCounts, qDistinctUnique, qMissingCounts, qMoments, qQuantiles, qZeros,
    qValueCounts, qHistogram, qDuplicateCount, qDuplicateTopK, qPearson,
    qSpearman, qUniformChi2, qCramers, qLengthStats, qCharFreq, qLengthHist,
    qDateStats, qDateHistogram, qBoolStats, qMad)
}
