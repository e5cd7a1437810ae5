package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-REGRESSION pins for the expensive relational queries: each test
  * executes the declared catalog query on the sf0.001 fixture and
  * asserts the load-bearing PHYSICAL properties of its plan — the
  * broadcasts, pushdowns, bounded top-k operators, and salted/pruned
  * exchanges the 100 TB posture depends on — so a refactor cannot
  * silently turn a broadcast into a shuffle or strip a filter off the
  * scan. (BucketingSpec pins q188's exchange-free join, and
  * RangeJoinBinRuleSpec q215's Generate+hash-join rewrite; this suite
  * covers the rest of the verdict's list.) */
class PlanPinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run a declared catalog query, EXECUTE it (so AQE finalizes), and
    * return the final physical plan string. */
  private def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q192 star join: dims broadcast, both filters pushed to the scans") {
    val plan = planOf("q192_star_join_deep")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // region + nation (at minimum) must ride the broadcast path
    val nBhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBhj >= 2, s"expected >= 2 broadcast joins, got $nBhj in:\n$plan")
    // the region predicate and the orders date window reach the parquet
    // scans as pushed filters (not post-scan Filter-only)
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"r_name filter not pushed:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"o_orderdate filter not pushed:\n$plan")
  }

  test("q200 TPC-H Q3: pushdown + bounded TakeOrdered, no global sort") {
    val plan = planOf("q200_tpch_q3")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"c_mktsegment filter not pushed:\n$plan")
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"l_shipdate filter not pushed:\n$plan")
    // top-10 must be the bounded operator, not Sort+Limit over all groups
    assert(plan.contains("TakeOrderedAndProject"),
      s"missing TakeOrderedAndProject:\n$plan")
  }

  test("q201 TPC-H Q18: customer broadcast, bounded top-100") {
    val plan = planOf("q201_tpch_q18")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast dim join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"missing TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q44 salted join: the join exchange partitions on (key, salt)") {
    // force the shuffle path (at fixture scale the dim would broadcast
    // and no exchange would exist to inspect)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val joined = graft.ops.Skew.saltedJoin(li, ord, "l_orderkey", salts = 8)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the salt must be IN the join's partitioning — that's the whole
      // mechanism that spreads a hot key over `salts` tasks
      val saltedPartitioning =
        "hashpartitioning\\([^)]*__salt".r.findFirstIn(plan)
      assert(saltedPartitioning.isDefined,
        s"no (key, salt) hashpartitioning in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q66/q181: asof() routes the production as-of through AsOfJoinExec") {
    // the custom operator IS the production path now (round-8): both
    // directions' catalog queries must plan the AsOfJoin node, not the
    // union+window formulation (and certainly not a theta join)
    for (q <- Seq("q66_asof_join", "q181_asof_forward")) {
      val plan = planOf(q)
      assert(plan.contains("AsOfJoin"), s"$q lost the exec route:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("AQE skew join: a hot-key sort-merge join splits the skewed partition") {
    // the runtime half of the skew story (q44's salting is the
    // declarative half): with skew-join thresholds scaled to fixture
    // size, AQE must re-plan the hot partition into splits — the plan
    // prints the join with skew=true. Broadcast disabled so a
    // sort-merge join exists to split.
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // half the fact rows land on ONE key; dim covers 1..1000
      val fact = spark.range(0, 60000).select(
        when(col("id") % 2 === 0, 1L).otherwise(col("id") % 1000 + 1)
          .as("k"), col("id").as("v"))
      val dim = spark.range(1, 1001).select(col("id").as("k"),
        (col("id") * 7).as("w"))
      val joined = fact.join(dim, "k")
      // collect() (not count()) so THIS QueryExecution's adaptive plan
      // finalizes — count() would plan and execute its own
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q26b IVF search at partial nprobe: postings filtered to probed lists") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = graft.ops.IvfIndex.build(e, "vec_id", "embedding", nlist = 8)
    val res = graft.ops.IvfIndex.search(idx,
      e.where(col("vec_id") < 3), "vec_id", "embedding", k = 3, nprobe = 2)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    // the corpus-sized postings side must carry the probed-list-set
    // filter (q26c's persisted variant turns this into parquet
    // partition pruning — IvfIndexSpec pins that)
    assert(plan.contains("list_id"), s"no list_id filter in:\n$plan")
    val pruned = "list_id[^\\n]*(INSET|IN \\(|isin)".r.findFirstIn(plan)
    assert(pruned.isDefined, s"postings not pruned to probed lists:\n$plan")
  }

  test("q367 RangeAgg sweep: zero pair materialization — no " +
    "point×interval join, no explode; one window + one broadcast " +
    "prefix join (the RangeAgg decision-table contract)") {
    // AQE's toString prints Final AND Initial sections — count joins
    // in the executed (final) section only
    val plan = planOf("q367_range_agg_sweep")
      .split("== Initial Plan ==").head
    // the PAIRS plan's signatures must be absent: no nested loop /
    // cartesian fallback, no bin-explode Generate fanout
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Generate"), s"explode fanout in sweep:\n$plan")
    // the only join is the driver-small bucket-prefix table riding a
    // broadcast back onto the bound rows
    assert(!plan.contains("SortMergeJoin"),
      s"data-sized shuffle join in sweep:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 1,
      s"expected exactly the prefix broadcast join in:\n$plan")
    // the running F(x) rides a per-bucket window
    assert(plan.contains("Window"), s"no window in sweep plan:\n$plan")
  }
}
