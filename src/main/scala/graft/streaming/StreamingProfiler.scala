package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.profile.ProfileType

/** Incremental profiling over Structured Streaming.
  *
  * The reference has no streaming abstraction at all (SURVEY §1.1); this
  * is the natural Spark-first extension: the same fused scalar-aggregate
  * design as the batch Profiler's pass A, expressed as a windowed
  * streaming aggregation. Everything used here is a streamable aggregate
  * (sums/counts/min/max/HLL++/GK-sketch) — no sort-based or distinct
  * aggregates, so the query runs in update/append mode with state bounded
  * by (windows x columns).
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
    * column's streamable stats. */
  def windowedProfile(
      df: DataFrame, timeCol: String, windowDuration: String,
      watermark: String): DataFrame = {
    val aggs = profileAggs(df)
    df.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowDuration).as("w"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The streamable subset of the batch profiler's pass-A expressions. */
  def profileAggs(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.toSeq
      .filter(f => ProfileType.fromDataType(f.dataType) != ProfileType.Unsupported)
    count(lit(1)).as("n") +: fields.flatMap { f =>
      val c = col(f.name)
      val p = f.name
      val base = Seq(
        count(c).as(s"${p}_count"),
        approx_count_distinct(c).as(s"${p}_approx_distinct"))
      ProfileType.fromDataType(f.dataType) match {
        case ProfileType.Numeric =>
          val d = c.cast("double")
          base ++ Seq(
            sum(d).as(s"${p}_sum"),
            avg(d).as(s"${p}_mean"),
            stddev_samp(d).as(s"${p}_std"),
            min(d).as(s"${p}_min"),
            max(d).as(s"${p}_max"),
            count(when(d === 0.0, 1)).as(s"${p}_zeros"),
            percentile_approx(d, array(lit(0.25), lit(0.5), lit(0.75)),
              lit(1000)).as(s"${p}_quartiles"))
        case ProfileType.Categorical =>
          base ++ Seq(
            avg(length(c)).as(s"${p}_len_mean"),
            min(length(c)).as(s"${p}_len_min"),
            max(length(c)).as(s"${p}_len_max"))
        case ProfileType.Bool =>
          base :+ count(when(c === true, 1)).as(s"${p}_true")
        case ProfileType.DateTime =>
          base ++ Seq(
            min(c).as(s"${p}_min"),
            max(c).as(s"${p}_max"))
        case _ => base
      }
    }
  }
}
