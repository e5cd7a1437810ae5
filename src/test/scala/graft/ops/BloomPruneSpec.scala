package graft.ops

import graft.SparkSpec

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  test("bit-identical to the plain anti join, including null keys") {
    val corpus = (Seq.tabulate(500)(i => Some(i.toLong)) ++
      Seq(None, None)).toDF("id")
    val deny = (0L until 500L by 3L).toDF("bad")
    val pruned = BloomPrune.antiJoin(corpus, "id", deny, "bad")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    val plain = corpus.join(deny, $"id" === $"bad", "left_anti")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    assert(pruned.toSeq == plain.toSeq)
    assert(pruned.count(_ == -1L) == 2) // nulls always kept
  }

  test("string keys verify exactly through the hash + bloom route") {
    val corpus = (1 to 300).map(i => s"doc$i").toDF("k")
    val deny = (1 to 300 by 5).map(i => s"doc$i").toDF("dk")
    val got = BloomPrune.antiJoin(corpus, "k", deny, "dk")
      .collect().map(_.getString(0)).toSet
    val exp = (1 to 300).filterNot(_ % 5 == 1).map(i => s"doc$i").toSet
    assert(got == exp)
  }

  test("high-fpp filter still yields the exact result (verify catches)") {
    val corpus = (1L to 1000L).toDF("id")
    val deny = Seq(5L, 500L).toDF("bad")
    // fpp 0.5: roughly half the corpus routes through the verify join
    val got = BloomPrune.antiJoin(corpus, "id", deny, "bad", fpp = 0.5)
    assert(got.count() == 998)
  }

  test("mismatched key types rejected (hash domain vs join equality)") {
    val corpus = Seq(1, 2, 3).toDF("id") // INT
    val deny = Seq(2L).toDF("bad") // BIGINT
    val e = intercept[IllegalArgumentException] {
      BloomPrune.antiJoin(corpus, "id", deny, "bad")
    }
    assert(e.getMessage.contains("key types"), e.getMessage)
    // cast-aligned works and is exact
    assert(BloomPrune.antiJoin(corpus.selectExpr("CAST(id AS BIGINT) id"),
      "id", deny, "bad").count() == 2)
  }

  test("plan: clean branch carries the codegen'd bloom probe filter") {
    // spark.range (not a foldable LocalRelation — ConvertToLocalRelation
    // would otherwise evaluate the probe at optimization time and erase
    // it from the plan)
    val corpus = spark.range(50).toDF("id")
    val deny = Seq(7L).toDF("bad")
    val plan = BloomPrune.antiJoin(corpus, "id", deny, "bad")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bloommightcontain"), plan)
  }
}
