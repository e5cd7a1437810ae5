package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.profile.{ProfileConfig, ProfileType, Profiler}

/** Incremental profiling over Structured Streaming.
  *
  * The reference has no streaming abstraction at all (SURVEY §1.1); this
  * is the natural Spark-first extension: the batch Profiler's pass A in
  * its sketch mode ([[ProfileConfig.minimal]], the 100 TB operating
  * config), expressed as a windowed streaming aggregation. The
  * aggregates are [[Profiler.columnAggs]] — the one per-column
  * statistics rule both profiles share — and every one of them is
  * mergeable (sums/counts/min/max, corrected moments, HLL++,
  * percentile_approx, approx_top_k), so the query runs in update mode
  * with state bounded by (windows x columns).
  *
  * Output: one row per window `w` with the window's row count `n` and,
  * per supported column `p`, `${p}_$stat` for each of its pass-A
  * statistics (`count`, `approx_distinct`; numeric `sum`, `variance`,
  * `min`, `max`, `skew`, `kurt`, `zeros`, `inf`, `quantiles` at
  * `ProfileConfig.minimal.quantiles`; string `len_sum`, `len_min`,
  * `len_max`, `len_median`, `topk`; boolean `true`, `false`; datetime
  * `min`, `max` in epoch seconds) plus the derived `${p}_mean`,
  * `${p}_std` and `${p}_len_mean` — sum / count, sqrt(variance) and
  * len_sum / count, the operations the batch report uses.
  *
  * Usage:
  * {{{
  *   val profiled = StreamingProfiler.windowedProfile(
  *     spark.readStream.format(...).load(),
  *     timeCol = "ts", window = "1 hour", watermark = "2 hours")
  *   profiled.writeStream.outputMode("update")...
  * }}}
  */
object StreamingProfiler {

  /** Per-window, per-table profile: one row per window with every
    * column's pass-A statistics (see the object doc for the schema). */
  def windowedProfile(
      df: DataFrame, timeCol: String, windowDuration: String,
      watermark: String): DataFrame = {
    val fields = df.schema.fields.toSeq
      .map(f => f -> ProfileType.fromDataType(f.dataType))
      .filter(_._2 != ProfileType.Unsupported)
    val aggs = count(lit(1)).as("n") +: fields.flatMap { case (f, t) =>
      Profiler.columnAggs(f, t, ProfileConfig.minimal)
        .map(a => a.agg.as(s"${f.name}_${a.stat}"))
    }
    val derived = fields.flatMap { case (f, t) =>
      def stat(s: String) = Profiler.qcol(s"${f.name}_$s")
      t match {
        case ProfileType.Numeric => Seq(
          (stat("sum") / stat("count")).as(s"${f.name}_mean"),
          sqrt(stat("variance")).as(s"${f.name}_std"))
        case ProfileType.Categorical =>
          Seq((stat("len_sum") / stat("count")).as(s"${f.name}_len_mean"))
        case _ => Nil
      }
    }
    df.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowDuration).as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: derived: _*)
  }
}
