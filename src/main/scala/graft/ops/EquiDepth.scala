package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Equi-depth (equal-frequency) histogram with exact SQL `ntile`
  * semantics — but WITHOUT `ntile(k) over (order by v)`, whose empty
  * partition spec funnels the whole table through one reducer ("No
  * Partition Defined"), the single-machine sort a 100 TB table cannot
  * afford.
  *
  * The global row position is assembled from bounded pieces instead:
  * [[Ranking.avgRanks]]'s two-phase distributed prefix sum yields, per
  * distinct value, the count of strictly-smaller rows; a window
  * partitioned BY VALUE (state bounded by a value's multiplicity)
  * disambiguates ties via the caller's tiebreak columns. position =
  * smaller + index-within-value, then ntile's exact integer formula
  * (first n%k bins get one extra row) assigns bins. One value-count
  * shuffle, one range-partitioned prefix pass with a bounded driver
  * collect, one per-value window, one hash join on the value — no
  * stage ever holds more than its slice.
  */
object EquiDepth {

  /** Equi-depth histogram of `vCol` (nulls dropped): one row per bin
    * (1-based, SQL ntile numbering) with its row count and value
    * bounds. `tieBreak` must make (vCol, tieBreak) a total order for
    * bin assignment to be deterministic. */
  def equiDepthHistogram(
      df: DataFrame,
      vCol: String,
      k: Int,
      tieBreak: Seq[String]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(tieBreak.nonEmpty, "tieBreak columns required for determinism")
    val clash = df.columns.filter(_.startsWith("__"))
    require(clash.isEmpty,
      s"input has reserved __-prefixed columns: ${clash.toSeq}")
    val rows = df
      // try_cast + post-filter: ANSI cast would crash on non-numeric
      // strings, and a value that casts to null must not form a null bin
      .select(expr(s"try_cast(`$vCol` AS DOUBLE)").as("__v"), col("*"))
      .where(col("__v").isNotNull)
    // lazy localCheckpoint: the count table feeds the n action, the
    // prefix-sum ranking, and the smaller-join — materialize the
    // groupBy once instead of re-running the shuffle per consumer
    // (the raw input is still scanned twice: counts + the final join —
    // unavoidable without caching row data)
    val counts = rows
      .groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val n = counts.agg(coalesce(sum(col("cnt")), lit(0L)))
      .head().getLong(0)
    if (n == 0) return df.sparkSession.emptyDataFrame
      .select(lit(1).as("bin"), lit(0L).as("n"),
        lit(0.0).as("lo"), lit(0.0).as("hi"))
      .where(lit(false))
    // smaller(v) = #rows with value < v, from the tie-averaged rank:
    // avgrank = smaller + (cnt+1)/2  (Ranking's contract; both terms are
    // exact half-integer doubles, so the difference is an exact integer
    // for n < 2^52 — the operator's honest scale bound, since avgrank
    // itself is a double; per-value multiplicity is further bounded by
    // Int.MaxValue through the row_number tie index below)
    val smaller = Ranking
      .avgRanksFromCounts(
        counts.select(lit("c").as("k"), col("__v"), col("cnt")),
        "k", "__v")
      .join(counts, "__v")
      .select(col("__v"),
        (col("avgrank") - (col("cnt") + 1.0) / 2.0).cast("long")
          .as("__smaller"))
    val wv = Window.partitionBy(col("__v"))
      .orderBy(tieBreak.map(c => col(c).asc): _*)
    val base = n / k
    val rem = n % k
    // ntile's exact integer assignment, in bigint `div` arithmetic —
    // Column./ is double division, which would add a SECOND rounding
    // layer on top of the 2^52 avgrank bound above
    val binExpr =
      if (base == 0) "__pos + 1" // fewer rows than bins: one row per bin
      else s"""CASE WHEN __pos < ${rem * (base + 1)}L
        THEN __pos div ${base + 1}L + 1
        ELSE $rem + (__pos - ${rem * (base + 1)}L) div ${base}L + 1 END"""
    rows
      .join(smaller, "__v")
      .withColumn("__pos",
        (col("__smaller") + row_number().over(wv) - 1).cast("long"))
      .select(col("__v"), expr(binExpr).cast("int").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"),
        max(col("__v")).as("hi"))
  }
}
