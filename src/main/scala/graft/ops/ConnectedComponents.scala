package graft.ops

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed connected components over an edge list — the clustering
  * step of near-duplicate dedup. The LSH family ([[Dedup]]) emits
  * near-dup PAIRS; an actual dedup pass needs every document labeled
  * with a component id so one representative per component can be
  * kept. Transitivity matters: A~B and B~C put A and C in one cluster
  * even when (A,C) itself never collided in any band.
  *
  * Algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * ACM SoCC 2014) — the standard shuffle-based union-find; rounds
  * converge in O(log² n). It runs as a typed kernel over an RDD of
  * (u, v) edges, never as Spark SQL: RDD closures generate no code, so
  * the rounds issue no queries and add nothing to the session's codegen
  * cache, however many rounds a graph takes.
  *
  * Each star step is ONE shuffle: the edges are hash-partitioned on
  * their key endpoint and sorted by (u, v) with
  * `repartitionAndSortWithinPartitions` (an external sort, which
  * spills), then each key's run is streamed. The first `v` of a run is
  * min Γ(u); adjacent duplicates are skipped, which stands in for a
  * `distinct`. Memory per key is O(1): there is NO neighbor-list
  * materialization anywhere (no join, cogroup, groupByKey or
  * collect_list), so the hub of a 10M-member boilerplate cluster (the
  * classic 100 TB failure mode) is a long sorted run, not a buffer
  * that can OOM an executor.
  *
  * Edges are held oriented (hi, lo); both star steps preserve that
  * orientation, so the fixpoint is exactly the star graph
  * (member → component-min). Node ids are Spark internal values of the
  * endpoints' common type, ordered as Spark orders that type (strings
  * by UTF-8 bytes, as `min` does); a type without value equality
  * (binary, arrays, structs, maps) is rejected. Reference behavior
  * target: chanedwin/pandas-profiling-personal has no graph operator —
  * this is part of the beyond-reference LLM-pipeline surface
  * (SURVEY §2.4).
  */
object ConnectedComponents {

  /** An oriented edge (u, v) and whether the step that emitted it
    * changed the graph. */
  private type Edge = ((Any, Any), Boolean)

  /** Component label for every node that appears in `edges`:
    * `(node, component)` with component = the minimum node id reachable
    * from `node`. Self-loops and nulls are dropped from the graph, but a
    * node seen only in a self-loop or beside a null still gets its own
    * row; duplicate and reversed edges are fine. Deterministic — no
    * randomness anywhere.
    *
    * One round is a large-star shuffle then a small-star shuffle. Each
    * emitted edge carries a flag: set when the large-star re-points it
    * at a smaller centre or the small-star re-points it off its key. A
    * round that flags nothing left the edge set unchanged, which is the
    * proven fixpoint, so convergence is a count of flagged edges over
    * the round's output: a plain RDD action, exact, with no signature to
    * collide. The round's output is localCheckpointed (iterative
    * lineage otherwise grows without bound) and superseded generations
    * are freed through a [[CheckpointRing]]: leaving dozens of dead
    * edge-set copies to GC + ContextCleaner put eviction/spill pressure
    * on the storage pool of a long-lived session. */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val types = edges.select(col(srcCol), col(dstCol)).schema.map(_.dataType)
    types.foreach(t => require(TypeUtils.typeWithProperEquals(t),
      s"connected components needs node ids with value equality, got ${t.simpleString}"))
    // the endpoints' common type, coerced as greatest/least coerce it
    val dt = edges.select(greatest(col(srcCol), col(dstCol))).schema.head.dataType
    val spark = edges.sparkSession
    val source = edges.select(col(srcCol).cast(dt), col(dstCol).cast(dt))
      .queryExecution.toRdd.mapPartitions(nodePairs(dt))
    val part = new NodePartitioner(
      math.max(source.getNumPartitions, spark.sparkContext.defaultParallelism))
    val n = new NodeOrdering(dt)
    implicit val edgeOrd: Ordering[(Any, Any)] = Ordering.Tuple2(n, n)

    val ring = new CheckpointRing(spark)
    var e: RDD[Edge] = source.flatMap { case (a, b) =>
      if (a == null || b == null || n.equiv(a, b)) None
      else Some(((n.max(a, b), n.min(a, b)), false))
    }
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val ls = e.flatMap { case ((u, v), _) => Iterator(((u, v), false), ((v, u), false)) }
        .repartitionAndSortWithinPartitions(part)
        .mapPartitions(s => largeStar(distinctRuns(s, edgeOrd), n))
      val ss = ring.checkpoint(ls
        .repartitionAndSortWithinPartitions(part)
        .mapPartitions(s => smallStar(distinctRuns(s, edgeOrd), n)))
      // computes every partition, so it also materializes the checkpoint
      changed = ss.filter(_._2).count() > 0
      e = ss
      // this round's reads are done: the generation before last can't
      // be referenced again — free its blocks now instead of at GC
      ring.rotate()
      it += 1
    }
    require(!changed,
      s"connected components did not converge in $maxIter rounds")
    // The fixpoint is the star graph: its edges ARE the member→root
    // mapping, and each root labels itself. A node seen only in a
    // self-loop or beside a null (re-read from the input; the rounds
    // drop those edges) labels itself too.
    val selfOnly = source.flatMap { case (a, b) =>
      if (a == null) Option(b) else if (b == null || n.equiv(a, b)) Some(a) else None
    }.map(x => ((x, x), false))
    val labels = e.flatMap { case ((u, v), _) => Iterator(((u, v), false), ((v, v), false)) }
      .union(selfOnly)
      .repartitionAndSortWithinPartitions(part)
      .mapPartitions(s => firstOfRuns(s, n))
    ColumnBridge.internalCreateDataFrame(spark, labels,
      StructType(Seq(StructField("node", dt), StructField("component", dt))))
  }

  /** Copy each input row's two endpoints out of Spark's reused row
    * buffer. Floating ids are normalized (-0.0 to 0.0, one NaN) so hash
    * partitioning agrees with Spark's ordering and equality. */
  private def nodePairs(dt: DataType)(rows: Iterator[InternalRow]): Iterator[(Any, Any)] = {
    val get = InternalRow.getAccessor(dt, nullable = true)
    val copy: Any => Any = dt match {
      case _: StringType => {
        case s: UTF8String => s.clone()
        case v => v
      }
      case DoubleType => {
        case d: Double if d == 0.0 => 0.0
        case d: Double if d.isNaN => Double.NaN
        case v => v
      }
      case FloatType => {
        case f: Float if f == 0.0f => 0.0f
        case f: Float if f.isNaN => Float.NaN
        case v => v
      }
      case _ => identity
    }
    rows.map(r => (copy(get(r, 0)), copy(get(r, 1))))
  }

  /** Large-star over the symmetric edge set, one key u per run: every
    * neighbor v > u re-points at m = min(Γ(u) ∪ {u}), the run being
    * sorted so that its first v is min Γ(u). The edge changed when m is
    * not u. */
  private def largeStar(runs: Iterator[Edge], n: Ordering[Any]): Iterator[Edge] = {
    var u: Any = null
    var m: Any = null
    runs.flatMap { case ((a, v), _) =>
      if (u == null || !n.equiv(a, u)) { u = a; m = n.min(a, v) }
      if (n.gt(v, u)) Some(((v, m), !n.equiv(m, u))) else None
    }
  }

  /** Small-star, keyed by the larger endpoint u: u and all its smaller
    * neighbors re-point at the smallest of them, m (the run's first v).
    * The (u, m) edge keeps the flag it came in with; every other
    * neighbor's edge is new. */
  private def smallStar(runs: Iterator[Edge], n: Ordering[Any]): Iterator[Edge] = {
    var u: Any = null
    var m: Any = null
    runs.map { case ((a, v), changed) =>
      if (u == null || !n.equiv(a, u)) { u = a; m = v; ((u, m), changed) }
      else ((v, m), true)
    }
  }

  /** A sorted edge stream with adjacent duplicates merged (their flags
    * OR-ed): `distinct` for a stream that is already sorted, in O(1). */
  private def distinctRuns(in: Iterator[Edge], ord: Ordering[(Any, Any)]): Iterator[Edge] = {
    val b = in.buffered
    new Iterator[Edge] {
      def hasNext: Boolean = b.hasNext
      def next(): Edge = {
        val (k, f) = b.next()
        var changed = f
        while (b.hasNext && ord.equiv(b.head._1, k)) changed |= b.next()._2
        (k, changed)
      }
    }
  }

  /** One (node, label) row per node run: sorted by (node, label), a
    * run's first record holds the label, a star edge's root being below
    * its member. */
  private def firstOfRuns(runs: Iterator[Edge], n: Ordering[Any]): Iterator[InternalRow] = {
    var node: Any = null
    runs.flatMap { case ((u, v), _) =>
      if (node != null && n.equiv(u, node)) None
      else { node = u; Some(InternalRow(u, v)) }
    }
  }

  /** Spark's ordering of the node type, built where it is used (the
    * physical ordering is not serializable for every type). */
  private final class NodeOrdering(dt: DataType) extends Ordering[Any] {
    @transient private lazy val ord = PhysicalDataType.ordering(dt)
    def compare(a: Any, b: Any): Int = ord.compare(a, b)
  }

  /** Hash partitioning on an edge's key endpoint. */
  private final class NodePartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val h = key.asInstanceOf[(Any, Any)]._1.hashCode % numPartitions
      if (h < 0) h + numPartitions else h
    }
  }

  /** Label EVERY row of `df` with its component: nodes absent from the
    * pair list are singletons (component = own id). The left join is a
    * plain hash join on the id — scale-safe; the label table is at
    * most one row per paired node. */
  def labelAll(
      df: DataFrame, idCol: String,
      pairs: DataFrame, srcCol: String, dstCol: String,
      outCol: String = "component", maxIter: Int = 50): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' collides with an input column")
    val labels = run(pairs, srcCol, dstCol, maxIter)
      .withColumnRenamed("node", idCol)
      .withColumnRenamed("component", outCol)
    df.join(labels, Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), col(idCol)))
  }
}
