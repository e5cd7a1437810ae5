package graft.ops

import graft.SparkSpec

class DeltaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val oldDf = Seq(
    (1L, Option("a"), Option(10L)), // unchanged
    (2L, Option("b"), Option(20L)), // value change
    (3L, Option("c"), Option(30L)), // removed
    (4L, None: Option[String], Option(40L)), // null -> null unchanged
    (5L, Option("e"), None: Option[Long]) // null -> value change
  ).toDF("id", "s", "n")

  private lazy val newDf = Seq(
    (1L, Option("a"), Option(10L)),
    (2L, Option("B"), Option(20L)),
    (4L, None: Option[String], Option(40L)),
    (5L, Option("e"), Option(50L)),
    (6L, Option("f"), Option(60L)) // added
  ).toDF("id", "s", "n")

  test("snapshotDiff: status + changed_cols per row, null-safe") {
    val got = Delta.snapshotDiff(oldDf, newDf, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, "unchanged", ""),
      (2L, "changed", "s"),
      (3L, "removed", ""),
      (4L, "unchanged", ""), // null == null, not a change
      (5L, "changed", "n"),
      (6L, "added", "")))
  }

  test("snapshotDiff: multi-column change lists names in schema order") {
    val o = Seq((1L, "x", 1L)).toDF("id", "s", "n")
    val n = Seq((1L, "y", 2L)).toDF("id", "s", "n")
    val r = Delta.snapshotDiff(o, n, Seq("id")).collect()(0)
    assert(r.getString(1) == "changed" && r.getString(2) == "s,n")
  }

  test("snapshotDiff: schema mismatch and key-only schemas rejected") {
    intercept[IllegalArgumentException] {
      Delta.snapshotDiff(oldDf, newDf.withColumnRenamed("n", "m"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Delta.snapshotDiff(oldDf.select("id"), newDf.select("id"), Seq("id"))
    }
  }

  // ---------------------------------------------------------------- scd2

  test("scd2: same-state runs fold, effective_to chains, open run null") {
    val ev = Seq(
      ("u1", 1L, 1L, Option("a")), ("u1", 2L, 2L, Option("a")),
      ("u1", 3L, 3L, Option("b")), ("u1", 4L, 4L, None),
      ("u1", 5L, 5L, None), ("u1", 6L, 6L, Option("a")))
      .toDF("k", "t", "id", "st")
    val out = Delta.scd2(ev, "k", "t", "st", tieBreak = Seq("id"))
      .orderBy("effective_from")
      .as[(String, Option[String], Long, Option[Long], Long)].collect().toSeq
    assert(out == Seq(
      ("u1", Some("a"), 1L, Some(3L), 2L),
      ("u1", Some("b"), 3L, Some(4L), 1L),
      ("u1", None, 4L, Some(6L), 2L), // null state is a level, not an end
      ("u1", Some("a"), 6L, None, 1L))) // open run
  }

  test("scd2: leading null state distinct from no-previous-row") {
    val ev = Seq(("u", 1L, 1L, None: Option[String]),
      ("u", 2L, 2L, None: Option[String]), ("u", 3L, 3L, Option("x")))
      .toDF("k", "t", "id", "st")
    val out = Delta.scd2(ev, "k", "t", "st", Seq("id"))
      .orderBy("effective_from")
      .as[(String, Option[String], Long, Option[Long], Long)].collect().toSeq
    // the two leading nulls are ONE run (first row opens it, second matches)
    assert(out == Seq(
      ("u", None, 1L, Some(3L), 2L), ("u", Some("x"), 3L, None, 1L)))
  }

  test("scd2: equal timestamps sequence deterministically via tieBreak") {
    val ev = Seq(("u", 1L, 2L, "x"), ("u", 1L, 1L, "y"))
      .toDF("k", "t", "id", "st")
    val out = Delta.scd2(ev, "k", "t", "st", Seq("id"))
      .orderBy("n_events", "state") // both runs share effective_from = 1
      .as[(String, String, Long, Option[Long], Long)].collect().toSeq
    // id 1 ('y') sorts first, so 'y' opens and 'x' is the open run
    assert(out.map(r => (r._2, r._4)).toSet ==
      Set(("y", Some(1L)), ("x", None)))
  }

  test("cdcUpsert: latest wins, D deletes, inserts land, untouched pass") {
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val changes = Seq(
      (1L, 5L, 100L, "U", 11.0),  // update key 1 ...
      (1L, 6L, 101L, "U", 12.0),  // ... latest (t=6) wins
      (2L, 9L, 102L, "U", 21.0),  // update then ...
      (2L, 9L, 103L, "D", 0.0),   // ... same t: greater id wins -> delete
      (4L, 7L, 104L, "U", 40.0),  // insert (no base row)
      (5L, 8L, 105L, "D", 0.0))   // delete of an absent key: no row
      .toDF("k", "t", "id", "op", "v")
    val got = Delta.cdcUpsert(base, changes, "k",
        Seq("t", "id"), "op", Seq("v"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 12.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("Transitions.stationary: two-state chain settles; absorbing self-loops") {
    import spark.implicits._
    // a -> b always, b -> a always: uniform stationary 0.5/0.5 at any
    // even step count; quantization must not disturb exact halves
    val ev = Seq(("u", 1L, "a"), ("u", 2L, "b"), ("u", 3L, "a"),
      ("u", 4L, "b"), ("u", 5L, "a")).toDF("k", "t", "st")
    val pi = graft.ops.Transitions.stationary(ev, "k", "t", "st",
      steps = 4).as[(String, Double)].collect().toMap
    assert(pi == Map("a" -> 0.5, "b" -> 0.5))
    // c appears only as a TARGET (absorbing): self-loop keeps its mass
    val ev2 = Seq(("u", 1L, "a"), ("u", 2L, "c")).toDF("k", "t", "st")
    val pi2 = graft.ops.Transitions.stationary(ev2, "k", "t", "st",
      steps = 3).as[(String, Double)].collect().toMap
    // pi0 = (0.5, 0.5); all of a's mass flows to c and stays
    assert(pi2("c") == 1.0 && pi2("a") == 0.0)
  }

  test("Transitions.stationary: unbounded state vocabularies fail loudly") {
    import spark.implicits._
    // a high-cardinality state column (an id passed by mistake) would
    // build an s x s driver matrix — the guard fires BEFORE the collect
    val ev = (0L until 40L).map(i => ("u", i, s"state_$i"))
      .toDF("k", "t", "st")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Transitions.stationary(ev, "k", "t", "st", maxStates = 10)
    }
    assert(e.getMessage.contains("maxStates"))
    // the same vocabulary under a sufficient bound still works
    assert(graft.ops.Transitions.stationary(ev, "k", "t", "st",
      maxStates = 40).count() == 40)
  }
}
