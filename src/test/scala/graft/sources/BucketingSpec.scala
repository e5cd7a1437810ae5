package graft.sources

import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with ZERO exchanges, same rows as plain join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-buckets")
    val facts = (1 to 1000).map(i => (i % 50, s"f$i")).toDF("k", "payload")
    val dims = (0 until 50).map(i => (i, s"dim$i")).toDF("k", "attr")
    try {
      Bucketing.writeBucketed(facts, "graft_facts",
        s"$dir/facts", "k", buckets = 8)
      Bucketing.writeBucketed(dims, "graft_dims",
        s"$dir/dims", "k", buckets = 8)
      val joined = Bucketing.bucketedJoin(spark, "graft_facts", "graft_dims", "k")
      val plan = joined.queryExecution.executedPlan.toString
      // matching bucket layout on both sides -> sort-merge join with no
      // Exchange anywhere (this is the whole point of the layout)
      assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
      // and the result is exactly the plain join
      val expected = facts.join(dims, "k")
        .collect().map(_.toSeq).toSet
      val got = joined.collect().map(_.toSeq).toSet
      assert(got == expected)
      assert(got.size == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_facts")
      spark.sql("DROP TABLE IF EXISTS graft_dims")
    }
  }
}
