package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Incremental (mergeable) profiling — the 100 TB operating pattern the
  * monolithic profiler can't serve: summarize each slice (day, source,
  * partition batch) INDEPENDENTLY, persist the small per-column summary
  * rows, and combine any subset later without touching the data again.
  * profile(A ∪ B) == merge(profile(A), profile(B)) holds exactly for
  * counts/min/max/moments (Pébay's pairwise central-moment composition,
  * the textbook parallel-moments formula) and register-losslessly for
  * distinct counts (HLL union is register-wise max — the union's
  * REGISTERS equal the whole-stream sketch's, though its estimate can
  * drift within the sketch's rsd because a unioned sketch falls back
  * from the path-dependent HIP estimator to the composite one; exact in
  * the sparse/coupon regime). Quantiles ride a KLL doubles sketch
  * (DataSketches, same library Spark's own sketch aggregates use and
  * already on every executor classpath) — mergeable with a proven
  * ~1.65% rank-error bound at the default k=200.
  *
  * Scale design: `summarize` is ONE scan — a codegen'd column melt
  * (c, vd, vs) feeding a mapPartitions fold that keeps one accumulator
  * per column (Welford/Pébay one-value moment updates, HLL + KLL sketch
  * updates); each partition emits O(columns) summary rows and
  * `merge` reduces them per column with the same pairwise composition.
  * Bytes shipped per partition are O(columns × sketch size), independent
  * of row count — the same shape as [[Pca.covarianceMatrix]]. Nothing in
  * the merge touches the original data.
  */
object IncrementalProfile {

  /** One column's mergeable summary. Central moments are the UNSCALED
    * sums M2 = Σ(x-mean)², M3, M4 over the numeric (castable) values;
    * `hll` / `kll` are DataSketches sketches of the value's string form
    * / numeric value (null when the slice had none). */
  final case class ColSummary(
      column: String,
      nRows: Long,
      n: Long, // non-null
      nZeros: Long,
      nNum: Long, // numeric (double-castable) non-null
      vMin: Option[Double],
      vMax: Option[Double],
      mean: Double,
      m2: Double,
      m3: Double,
      m4: Double,
      hll: Array[Byte],
      kll: Array[Byte])

  private val LgK = 12 // HLL lgConfigK (Spark's hll_sketch_agg default)
  private val KllK = 200 // KLL k: ~1.65% rank error, ~5 KB serialized

  private final class Acc(val column: String) {
    var nRows = 0L
    var n = 0L
    var nZeros = 0L
    var nNum = 0L
    var vMin = Double.NaN
    var vMax = Double.NaN
    var mean = 0.0
    var m2 = 0.0
    var m3 = 0.0
    var m4 = 0.0
    var hll: org.apache.datasketches.hll.HllSketch = null
    var kll: org.apache.datasketches.kll.KllDoublesSketch = null

    def update(vd: java.lang.Double, vs: String): Unit = {
      nRows += 1
      if (vs != null) {
        n += 1
        if (hll == null)
          hll = new org.apache.datasketches.hll.HllSketch(LgK)
        hll.update(vs)
      }
      if (vd != null) {
        val x = vd.doubleValue()
        if (x == 0.0) nZeros += 1
        // total-order compare: '<' is false for NaN on either side, which
        // would make min/max depend on arrival order and break
        // merge == whole; Double.compare sorts NaN greatest (Spark's own
        // min/max ordering), order-independently
        if (nNum == 0 || java.lang.Double.compare(x, vMin) < 0) vMin = x
        if (nNum == 0 || java.lang.Double.compare(x, vMax) > 0) vMax = x
        // one-value Pébay/Welford update; M4 before M3 before M2
        val n1 = nNum.toDouble
        nNum += 1
        val nd = nNum.toDouble
        val d = x - mean
        val dn = d / nd
        val dn2 = dn * dn
        val t1 = d * dn * n1
        m4 += t1 * dn2 * (nd * nd - 3 * nd + 3) + 6 * dn2 * m2 - 4 * dn * m3
        m3 += t1 * dn * (nd - 2) - 3 * dn * m2
        m2 += t1
        mean += dn
        if (kll == null)
          kll = org.apache.datasketches.kll.KllDoublesSketch
            .newHeapInstance(KllK)
        kll.update(x)
      }
    }

    def result: ColSummary = ColSummary(
      column, nRows, n, nZeros, nNum,
      if (nNum > 0) Some(vMin) else None,
      if (nNum > 0) Some(vMax) else None,
      mean, m2, m3, m4,
      if (hll == null) null else hll.toUpdatableByteArray,
      if (kll == null) null else kll.toByteArray)
  }

  /** One-scan per-column summary of `cols` (all columns when empty):
    * codegen'd melt + per-partition accumulator fold. */
  def summarize(df: DataFrame, cols: Seq[String] = Nil): Dataset[ColSummary] = {
    val spark = df.sparkSession
    import spark.implicits._
    val use = if (cols.nonEmpty) cols else df.columns.toSeq
    require(use.nonEmpty, "no columns to summarize")
    val structs = use.map { c =>
      // try_cast only suppresses RUNTIME cast failures (ANSI cast would
      // throw on non-numeric strings); array/map/struct -> double is an
      // ANALYSIS-time error, and so are date and timestamp_ntz -> double,
      // so datetimes take the profiler's epoch-seconds leg and complex
      // types skip the numeric leg entirely (counts + HLL only)
      val vd = {
        import org.apache.spark.sql.types._
        df.schema(c).dataType match {
          case _: NumericType | StringType | BooleanType =>
            expr(s"try_cast(`$c` AS DOUBLE)")
          case DateType | TimestampType | TimestampNTZType =>
            unix_timestamp(col(c).cast("timestamp")).cast("double")
          case _ => lit(null).cast("double")
        }
      }
      struct(
        lit(c).as("c"),
        vd.as("vd"),
        col(c).cast("string").as("vs"))
    }
    val order = use.zipWithIndex.toMap
    val partials = df
      .select(explode(array(structs: _*)).as("x"))
      .select("x.*")
      .as[(String, Option[Double], Option[String])]
      .mapPartitions { it =>
        val accs = new java.util.HashMap[String, Acc]()
        it.foreach { case (c, vd, vs) =>
          var a = accs.get(c)
          if (a == null) { a = new Acc(c); accs.put(c, a) }
          a.update(
            vd.map(java.lang.Double.valueOf).orNull, vs.orNull)
        }
        import scala.jdk.CollectionConverters._
        accs.values().asScala.iterator.map(_.result)
      }
    // reduce the per-partition partials to ONE row per column, in the
    // original column order (deterministic summary layout)
    merge(partials).orderBy(element_at(typedLit(order), col("column")))
  }

  /** Pébay pairwise composition of two summaries of the same column. */
  def combine(a: ColSummary, b: ColSummary): ColSummary = {
    require(a.column == b.column, s"column mismatch: ${a.column}/${b.column}")
    val (na, nb) = (a.nNum.toDouble, b.nNum.toDouble)
    val (mean, m2, m3, m4) =
      if (a.nNum == 0) (b.mean, b.m2, b.m3, b.m4)
      else if (b.nNum == 0) (a.mean, a.m2, a.m3, a.m4)
      else {
        val nTot = na + nb
        val d = b.mean - a.mean
        val mean = a.mean + d * nb / nTot
        val m2 = a.m2 + b.m2 + d * d * na * nb / nTot
        val m3 = a.m3 + b.m3 +
          d * d * d * na * nb * (na - nb) / (nTot * nTot) +
          3.0 * d * (na * b.m2 - nb * a.m2) / nTot
        val m4 = a.m4 + b.m4 +
          d * d * d * d * na * nb * (na * na - na * nb + nb * nb) /
            (nTot * nTot * nTot) +
          6.0 * d * d * (na * na * b.m2 + nb * nb * a.m2) / (nTot * nTot) +
          4.0 * d * (na * b.m3 - nb * a.m3) / nTot
        (mean, m2, m3, m4)
      }
    ColSummary(
      a.column,
      a.nRows + b.nRows,
      a.n + b.n,
      a.nZeros + b.nZeros,
      a.nNum + b.nNum,
      // Double.compare ordering, same as the accumulator: math.min/max
      // would propagate NaN and diverge from the single-pass result
      (a.vMin.toSeq ++ b.vMin.toSeq).reduceOption((x: Double, y: Double) =>
        if (java.lang.Double.compare(x, y) <= 0) x else y),
      (a.vMax.toSeq ++ b.vMax.toSeq).reduceOption((x: Double, y: Double) =>
        if (java.lang.Double.compare(x, y) >= 0) x else y),
      mean, m2, m3, m4,
      hllUnion(a.hll, b.hll),
      kllMerge(a.kll, b.kll))
  }

  /** Merge any number of slice summaries into one summary per column
    * (distributed reduceGroups — JVM arithmetic + sketch unions only). */
  def merge(summaries: Dataset[ColSummary]): Dataset[ColSummary] = {
    val spark = summaries.sparkSession
    import spark.implicits._
    summaries.groupByKey(_.column).reduceGroups(combine _).map(_._2)
  }

  /** Derived per-column statistics from a (merged) summary: sample
    * std, bias-corrected G1 skewness / G2 excess kurtosis (the
    * reference's conventions), approximate distinct count from the HLL
    * sketch, approximate quartiles/median/p95 from the KLL sketch. */
  def stats(summary: Dataset[ColSummary]): DataFrame = {
    val spark = summary.sparkSession
    import spark.implicits._
    summary
      .map { s =>
        val n = s.nNum.toDouble
        val std =
          if (s.nNum >= 2) Some(math.sqrt(s.m2 / (n - 1))) else None
        val g1 =
          if (s.nNum >= 3 && s.m2 > 0) {
            val pop = (s.m3 / n) / math.pow(s.m2 / n, 1.5)
            Some(math.sqrt(n * (n - 1)) / (n - 2) * pop)
          } else None
        val g2 =
          if (s.nNum >= 4 && s.m2 > 0) {
            val pop = n * s.m4 / (s.m2 * s.m2) - 3.0
            Some(((n + 1) * pop + 6) * (n - 1) / ((n - 2) * (n - 3)))
          } else None
        val qs = kllQuantiles(s.kll, Array(0.25, 0.5, 0.75, 0.95))
        (s.column, s.nRows, s.n, s.nRows - s.n,
          if (s.nRows > 0) (s.nRows - s.n).toDouble / s.nRows else 0.0,
          s.nZeros, hllEstimate(s.hll), s.vMin, s.vMax,
          if (s.nNum > 0) Some(s.mean) else None, std, g1, g2,
          qs.map(_(0)), qs.map(_(1)), qs.map(_(2)), qs.map(_(3)))
      }
      .toDF("column", "n_rows", "n", "n_missing", "p_missing", "n_zeros",
        "n_distinct_approx", "min", "max", "mean", "std", "skewness",
        "kurtosis", "p25", "p50", "p75", "p95")
  }

  /** Persist a slice summary (parquet; sketches travel as binary
    * columns). The intended layout at scale is one summary per slice
    * under a partitioned root, e.g. `root/dt=2026-08-13/`, loaded back
    * with [[load]] over any glob of slices and [[merge]]d. */
  def write(summary: Dataset[ColSummary], path: String): Unit =
    summary.write.mode("overwrite").parquet(path)

  /** Load previously written summaries (accepts globs spanning many
    * slices — merge() collapses them per column). */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): Dataset[ColSummary] = {
    import spark.implicits._
    spark.read.parquet(path).as[ColSummary]
  }

  private def hllUnion(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    if (a == null || a.isEmpty) b
    else if (b == null || b.isEmpty) a
    else {
      val u = new Union(LgK)
      u.update(HllSketch.heapify(a))
      u.update(HllSketch.heapify(b))
      u.getResult.toUpdatableByteArray
    }
  }

  private def kllMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    if (a == null || a.isEmpty) b
    else if (b == null || b.isEmpty) a
    else {
      val s = KllDoublesSketch.heapify(Memory.wrap(a))
      s.merge(KllDoublesSketch.heapify(Memory.wrap(b)))
      s.toByteArray
    }
  }

  /** Rounded HLL estimate (0 for an absent sketch). */
  def hllEstimate(bytes: Array[Byte]): Long = {
    import org.apache.datasketches.hll.HllSketch
    if (bytes == null || bytes.isEmpty) 0L
    else math.round(HllSketch.heapify(bytes).getEstimate)
  }

  /** KLL quantiles at the given ranks (None for an absent sketch). */
  def kllQuantiles(
      bytes: Array[Byte], ranks: Array[Double]): Option[Array[Double]] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    if (bytes == null || bytes.isEmpty) None
    else {
      val s = KllDoublesSketch.heapify(Memory.wrap(bytes))
      Some(ranks.map(r => s.getQuantile(r)))
    }
  }
}
