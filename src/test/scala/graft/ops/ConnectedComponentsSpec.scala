package graft.ops

import org.apache.spark.sql.types.IntegerType

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Driver-side union-find reference over `ord`; a null endpoint adds
    * no edge, but the other endpoint still gets a row. */
  private def refOf[T](edges: Seq[(Option[T], Option[T])])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      // register both endpoints — self-loop-only nodes get a row too
      a.foreach(find); b.foreach(find)
      for (x <- a; y <- b) {
        val (ra, rb) = (find(x), find(y))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ref(edges: Seq[(Long, Long)]): Map[Long, Long] =
    refOf(edges.map { case (a, b) => (Option(a), Option(b)) })

  /** Spark's string order: UTF-8 bytes (= code points), not UTF-16. */
  private val utf8Order: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  test("chain collapses to the minimum id despite O(n) diameter") {
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = cc(chain)
    assert(got.size == 40)
    assert(got.values.toSet == Set(0L))
  }

  test("two components plus reversed/duplicate edges and self-loops") {
    val got = cc(Seq((5L, 3L), (3L, 5L), (3L, 9L), (9L, 9L),
      (20L, 21L), (21L, 20L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L))
    // a node appearing ONLY in self-loop pairs still gets a row
    assert(cc(Seq((7L, 7L))) == Map(7L -> 7L))
  }

  test("random graphs match a union-find reference") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(70)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(cc(edges) == ref(edges), s"seed=$seed")
    }
  }

  test("string node ids order lexicographically") {
    val got = ConnectedComponents
      .run(Seq(("b", "c"), ("c", "aa")).toDF("x", "y"), "x", "y")
      .as[(String, String)].collect().toMap
    assert(got == Map("b" -> "aa", "c" -> "aa", "aa" -> "aa"))
  }

  test("empty edge list converges to an empty labeling") {
    assert(cc(Nil).isEmpty)
  }

  test("labelAll: unpaired rows become singletons; collision guarded") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val pairs = Seq((4L, 2L)).toDF("i", "j")
    val got = ConnectedComponents.labelAll(docs, "id", pairs, "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    intercept[IllegalArgumentException] {
      ConnectedComponents.labelAll(
        docs.withColumnRenamed("id", "component"), "component",
        pairs, "i", "j")
    }
  }

  test("a 2000-leaf star and a 500-node chain match union-find") {
    val star = (1L to 2000L).map(i => (1000L, i * 7 % 2003))
    assert(cc(star) == ref(star))
    assert(cc(star).values.toSet == Set(star.map(_._2).min min 1000L))
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((0L until 500L).toList).toArray
    val chain = (0 until 499).map(i => (ids(i), ids(i + 1)))
    val got = cc(chain)
    assert(got == ref(chain))
    assert(got.size == 500 && got.values.toSet == Set(0L))
  }

  test("IntegerType ids keep their type and match union-find") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(80)((rnd.nextInt(50) - 25, rnd.nextInt(50) - 25))
    val out = ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
    assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(out.as[(Int, Int)].collect().toMap ==
      refOf(edges.map { case (a, b) => (Option(a), Option(b)) }))
  }

  test("null endpoints add no edge; the other endpoint gets a row") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None), (Some(4L), Some(3L)),
      (Some(5L), None), (Some(5L), Some(4L)), (Some(9L), Some(9L)))
    val got = ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == refOf(edges))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 3L, 9L -> 9L))
  }

  test("string ids order by UTF-8 bytes, not UTF-16 units") {
    // U+FFFD sorts below U+1F600 by code point, above it in UTF-16
    val edges = Seq(("\uD83D\uDE00", "\uFFFD"), ("\uD83D\uDE00x", "\uD83D\uDE00"),
      ("b", "a"), ("\u00E9", "\uFFFDy"), ("\uD83D\uDE00y", "\uFFFDy"))
    assert("\uD83D\uDE00".compareTo("\uFFFD") < 0)
    val got = ConnectedComponents.run(edges.toDF("x", "y"), "x", "y")
      .as[(String, String)].collect().toMap
    assert(got == refOf(edges.map { case (a, b) => (Option(a), Option(b)) })(utf8Order))
    assert(got("\uD83D\uDE00") == "\uFFFD" && got("\uD83D\uDE00y") == "\u00E9")
  }

  test("a node type without value equality fails the require") {
    val edges = Seq((Array[Byte](1), Array[Byte](2))).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.run(edges, "a", "b")
    }
    assert(e.getMessage.contains("value equality"))
  }

  test("the rounds issue no Spark SQL queries") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.graft.ListenerProbe
    def queries(edges: Seq[(Long, Long)]): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val df = edges.toDF("a", "b")
      ListenerProbe.drain(spark)
      spark.listenerManager.register(listener)
      try {
        ConnectedComponents.run(df, "a", "b").collect()
        ListenerProbe.drain(spark)
      } finally spark.listenerManager.unregister(listener)
      n.get
    }
    val chain = (0L until 499L).map(i => (i, i + 1))
    val small = queries(Seq((1L, 2L), (3L, 2L)))
    assert(small >= 1)
    assert(queries(chain) == small)
  }
}
