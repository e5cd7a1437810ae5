package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic column-expression helpers shared by the profiler and the
  * query catalog. Everything here composes built-in (codegen'd) Spark SQL
  * functions — no UDFs — so plans stay inside whole-stage codegen and
  * results are bit-reproducible across engines (the DuckDB oracle runs the
  * same IEEE-754 arithmetic).
  */
object StatFunctions {

  /** Bias-corrected sample skewness G1 from Spark's population skewness g1.
    *
    * Spark's `skewness` is g1 = m3/m2^1.5 while pandas `skew()` is the
    * corrected G1 (reference expectation values:
    * `tests/unit/test_describe.py:205,217`); G1 = g1 * sqrt(n(n-1))/(n-2).
    */
  def correctedSkewness(c: Column): Column = {
    val n = count(c).cast("double")
    // n <= 2 is undefined (ANSI division-by-zero otherwise), like pandas
    when(n > 2.0, skewness(c) * sqrt(n * (n - lit(1.0))) / (n - lit(2.0)))
  }

  /** Bias-corrected excess kurtosis G2 from Spark's population excess g2:
    * G2 = ((n+1)g2 + 6)(n-1) / ((n-2)(n-3)). Matches pandas `kurt()` and
    * DuckDB `kurtosis`. */
  def correctedKurtosis(c: Column): Column = {
    val n = count(c).cast("double")
    when(n > 3.0,
      ((n + lit(1.0)) * kurtosis(c) + lit(6.0)) * (n - lit(1.0)) /
        ((n - lit(2.0)) * (n - lit(3.0))))
  }

  /** 60-bit deterministic hash of a string: first 15 hex chars of md5,
    * seeded by prefixing. Chosen because md5 is available with identical
    * output in both Spark and DuckDB, which makes minhash signatures
    * oracle-checkable (DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT). */
  def hash64(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), c)), 1, 15), 16, 10)
      .cast("long")

  /** Character k-shingles of a string column: positions 1..len-k+1.
    * Callers must filter length(c) >= k first (Spark's `sequence` would
    * otherwise produce a descending range). */
  def shingles(c: Column, k: Int): Column =
    transform(sequence(lit(1), length(c) - lit(k - 1)), i =>
      c.substr(i, lit(k)))

  /** Fixed-width histogram bin index: least(floor((x-min)/w), bins-1) with
    * w = (max-min)/bins. Pure IEEE double arithmetic — identical in any
    * engine, so exact-match safe. min==max collapses to bin 0. */
  def histogramBin(c: Column, mn: Double, mx: Double, bins: Int): Column =
    if (mx <= mn) lit(0)
    else histogramBin(c, lit(mn), lit((mx - mn) / bins), lit(bins - 1))

  /** [[histogramBin]] with the range given per row: `w` the bin width
    * (max-min)/bins, positive, and `last` = bins-1. */
  def histogramBin(c: Column, mn: Column, w: Column, last: Column): Column =
    least(floor((c - mn) / w), last).cast("int")

  /** Dot product of two array<numeric> columns in double precision,
    * summed left-to-right (deterministic). Backed by the codegen'd
    * [[ArrayDot]] expression — bit-identical to the interpreted
    * aggregate(zip_with(...)) HOF form but stays in whole-stage codegen. */
  def dotProduct(a: Column, b: Column): Column = ArrayDot.dot(a, b)

  /** L2 norm of an array<numeric> column (double, deterministic order). */
  def l2Norm(c: Column): Column = sqrt(ArrayDot.dot(c, c))

  /** Cosine similarity of two embedding columns. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Uniformity chi-square statistic from per-value counts:
    * chi2 = (k/N) * sum(o^2) - N  (expected = N/k for every cell).
    * Needs only sum(cnt), sum(cnt^2) and k — fully distributed, no
    * driver transfer (replaces reference scipy.chisquare,
    * summary_helpers.py:470-473). */
  def chi2FromCounts(sumCnt: Double, sumCntSq: Double, k: Long): Double =
    if (k <= 1 || sumCnt <= 0) 0.0 else k * sumCntSq / sumCnt - sumCnt

  /** Upper-tail p-value of a chi-squared statistic via commons-math
    * (on the Spark classpath). */
  def chi2PValue(chi2: Double, dof: Long): Double =
    if (dof <= 0) 1.0
    else {
      val dist =
        new org.apache.commons.math3.distribution.ChiSquaredDistribution(
          dof.toDouble)
      1.0 - dist.cumulativeProbability(math.max(chi2, 0.0))
    }

  /** Bias-corrected Cramer's V (Bergsma 2013), the reference formula at
    * correlations.py:220-264. */
  def correctedCramersV(chi2: Double, n: Long, r: Long, k: Long): Double = {
    if (n <= 1 || r <= 1 || k <= 1) 0.0
    else {
      val phi2 = chi2 / n
      val phi2corr =
        math.max(0.0, phi2 - (k - 1.0) * (r - 1.0) / (n - 1.0))
      val rcorr = r - math.pow(r - 1.0, 2) / (n - 1.0)
      val kcorr = k - math.pow(k - 1.0, 2) / (n - 1.0)
      val denom = math.min(kcorr - 1.0, rcorr - 1.0)
      if (denom <= 0) 0.0 else math.sqrt(phi2corr / denom)
    }
  }
}
