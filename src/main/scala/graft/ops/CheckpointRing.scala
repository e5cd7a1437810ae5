package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic reclamation for ITERATIVE localCheckpoint loops
  * (connected components, PageRank, k-core, k-means…).
  *
  * `Dataset.localCheckpoint` persists its blocks at MEMORY_AND_DISK
  * and leaves reclamation to GC + ContextCleaner: the blocks live
  * until the wrapping RDD object is garbage-collected on the driver
  * AND the async cleaner drains. Inside a contraction loop that
  * checkpoints 2–3 shrinking edge tables per round for O(log² n)
  * rounds, that non-determinism stacks dozens of dead edge-set copies
  * in the block manager of a long-lived session — on a
  * memory-pressured host the storage pool then evicts/spills exactly
  * while the next shuffle runs. Measured symptom (round-11 driver
  * closing run): the iterative-shuffle family (q106/q185 connected
  * components) selectively read 1.4–5× of the builder's same-commit
  * runs while scan-shaped queries in the same pass stayed flat.
  *
  * The ring frees a generation as soon as the NEXT generation is
  * materialized: `checkpoint()` tags the new RDD ids (a DataFrame's by
  * the diff of `sc.getPersistentRDDs` around the call, an RDD's by its
  * own id), `rotate()` unpersists the
  * generation before last. Two generations stay live — the current
  * edge table and everything derived in the round under construction
  * — so no block is dropped while any downstream action can still
  * read it. After the loop the final generation is left alone: it
  * backs the RETURNED DataFrame (a localCheckpointed RDD cannot be
  * recomputed) and is reclaimed by the usual GC path once the caller
  * drops it.
  *
  * Single-threaded by design (one driver thread drives one iterative
  * job), like the loops it serves: the id diff would mis-tag RDDs
  * persisted concurrently from another thread.
  */
final class CheckpointRing(spark: SparkSession) {
  private var prevIds: Set[Int] = Set.empty
  private var curIds: Set[Int] = Set.empty

  /** localCheckpoint `df` and tag the resulting blocks to the current
    * generation. `eager=false` matches `Dataset.localCheckpoint(false)`
    * (blocks materialize at first action; unpersisting a never-
    * materialized lazy checkpoint is a no-op). */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager)
    curIds ++= sc.getPersistentRDDs.keySet.diff(before)
    out
  }

  /** `rdd.localCheckpoint()`, tagged to the current generation. Lazy,
    * like `RDD.localCheckpoint`: the caller's next action that computes
    * every partition materializes it. */
  def checkpoint[T](rdd: RDD[T]): RDD[T] = {
    rdd.localCheckpoint()
    curIds += rdd.id
    rdd
  }

  /** End of one iteration: the generation BEFORE last is dead — every
    * action that could read it has run — so its blocks are dropped
    * now, not at some future GC. Non-blocking removal: the block
    * manager drops asynchronously while the next round plans. */
  def rotate(): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    prevIds.foreach(id => persisted.get(id).foreach(_.unpersist(false)))
    prevIds = curIds
    curIds = Set.empty
  }
}
