package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: a seeded input, the op timed on it, and the
  * checks of the op's outputs against ground truth from set-up. */
trait Workload {
  def name: String

  /** The engine layer the op calls into, the prefix of its span metrics. */
  def layer: String

  /** Generate the input from `seed`, write it as `files` parquet files
    * under `dir`, and compute the ground truth. Called several times per
    * run, once before the cold op and again after it; each call must
    * leave the same input and ground truth behind, and keep what the
    * checks compare across ops. */
  def setup(spark: SparkSession, dir: String, seed: Long, files: Int): Unit

  /** One op, with a span around each call into the engine. */
  def op(spark: SparkSession, t: Tracer): Unit

  /** What is wrong with the last op's outputs; empty when correct. */
  def check(): Seq[String]

  /** Span names whose durations are reported, with their metric names. */
  def spanMetrics: Seq[(String, String)]

  /** The span whose job-free share is reported, if any. */
  def focus: Option[String] = None

  /** Counts a traced run adds once, outside any timed op. */
  def traceCounts(spark: SparkSession): Map[String, Double] = Map.empty

  /** One line on the input and config, for the run's context record. */
  def describe: String
}

object Workload {
  private val all: Map[String, () => Workload] = Map(
    "profile_tall" -> (() => ProfileWorkload.tall),
    "jaccard_dedup" -> (() => new DedupWorkload))

  def names: Seq[String] = all.keys.toSeq.sorted

  def layers: Set[String] = all.values.map(_().layer).toSet

  def byName(n: String): Option[Workload] = all.get(n).map(_())
}

/** Eager local checkpoints the harness takes to materialise a step's
  * output, tracked so they can be freed once the op has been checked. */
object Materialized {
  private var ids = Set.empty[Int]

  def apply(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(true)
    ids ++= sc.getPersistentRDDs.keySet.diff(before)
    out
  }

  def release(spark: SparkSession): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(true)))
    ids = Set.empty
  }
}
