package graft.ops

import graft.SparkSpec

/** [[Redirects.resolveChains]] mechanics at unit scale (q409 gates
  * the corpus-scale construction): exact hops, the
  * exactly-maxHops-long chain rescue, loop detection, the
  * self-terminal probe, and the functional-graph guard. */
class RedirectsSpec extends SparkSpec {
  import spark.implicits._

  private def resolve(edges: Seq[(String, String)],
      probes: Seq[String], maxHops: Int) =
    Redirects.resolveChains(
        edges.toDF("src", "dst"), "src", "dst",
        probes.toDF("url"), "url", maxHops)
      .collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getString(3))))
      .toMap

  test("exact hops, terminals, loops, and the maxHops-long rescue") {
    val edges = Seq("a" -> "b", "b" -> "c", // chain a->b->c (c terminal)
      "x" -> "y", "y" -> "x", // 2-cycle
      "p1" -> "p2", "p2" -> "p3", "p3" -> "p4") // length-3 chain
    val got = resolve(edges, Seq("a", "b", "c", "x", "z", "p1"),
      maxHops = 3)
    assert(got("a") === ((Some("c"), Some(2), "ok")))
    assert(got("b") === ((Some("c"), Some(1), "ok")))
    assert(got("c") === ((Some("c"), Some(0), "ok"))) // own terminal
    assert(got("z") === ((Some("z"), Some(0), "ok"))) // never redirected
    assert(got("x") === ((None, None, "loop_or_limit")))
    // p1 needs EXACTLY maxHops advances — the final terminal check
    // must rescue it
    assert(got("p1") === ((Some("p4"), Some(3), "ok")))
    // one hop past the cap reads as loop_or_limit
    val capped = resolve(edges, Seq("p1"), maxHops = 2)
    assert(capped("p1") === ((None, None, "loop_or_limit")))
  }

  test("disagreeing redirects for one src are rejected loudly") {
    intercept[IllegalArgumentException] {
      Redirects.resolveChains(
        Seq("a" -> "b", "a" -> "c").toDF("src", "dst"), "src", "dst",
        Seq("a").toDF("url"), "url")
    }
  }

}
