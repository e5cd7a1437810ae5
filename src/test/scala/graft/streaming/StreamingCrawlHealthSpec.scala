package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** [[StreamingCircuitBreaker]] + [[StreamingTrapScreen]] at unit
  * scale (q423/q425 gate the corpus-scale drives): cross-batch run
  * continuity, KMV set-determinism across batch splits. */
class StreamingCrawlHealthSpec extends SparkSpec {
  import spark.implicits._

  test("breakerStates: a failure run SPANNING the batch boundary " +
    "still counts as one run") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Boolean)]
    val src = mem.toDF.toDF("host", "ord", "ok")
    val out = StreamingCircuitBreaker.breakerStates(
      src, "host", "ord", "ok", tripAt = 3)
    val q = out.toDF.writeStream.format("memory").queryName("sbrk")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gsbrk").toString)
      .outputMode(OutputMode.Append()).start()
    // batch 1 ends mid-run (F F); batch 2 continues it (F) -> run 3
    mem.addData(("h", 1L, true), ("h", 2L, false), ("h", 3L, false))
    q.processAllAvailable()
    mem.addData(("h", 4L, false), ("h", 5L, true))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT seq, nEvents, nFail, maxFailRun, openRun, tripped " +
        "FROM sbrk ORDER BY seq").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(3) === 2L && !rows(0).getBoolean(5),
      "after batch 1 the open run is 2, below the trip")
    assert(rows(1).getLong(3) === 3L && rows(1).getBoolean(5),
      "batch 2 extends the SAME run to 3 and trips")
    assert(rows(1).getLong(4) === 0L, "the trailing ok resets open")
  }

  test("breakerStates and circuitBreakers agree on a null outcome: " +
    "it is dropped, not counted, and does not split the run") {
    implicit val sqlCtx = spark.sqlContext
    val log = Seq(("h", 1L, Some(false)), ("h", 2L, None),
      ("h", 3L, Some(false)))
    val batch = graft.ops.CrawlHealth.circuitBreakers(
        log.toDF("host", "ord", "ok"), "host", "ord", "ok", tripAt = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    val mem = MemoryStream[(String, Long, Option[Boolean])]
    val out = StreamingCircuitBreaker.breakerStates(
      mem.toDF.toDF("host", "ord", "ok"), "host", "ord", "ok", tripAt = 2)
    val q = out.toDF.writeStream.format("memory").queryName("sbrknull")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gsbrknull").toString)
      .outputMode(OutputMode.Append()).start()
    mem.addData(log: _*)
    q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT nEvents, nFail, maxFailRun, openRun, tripped " +
        "FROM sbrknull ORDER BY seq DESC LIMIT 1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq
    assert(batch === Seq((2L, 2L, 2L, 2L, true)))
    assert(batch === last)
  }

  test("trap screen: KMV state is set-deterministic across batch " +
    "splits and the estimate path engages above k") {
    implicit val sqlCtx = spark.sqlContext
    val obs = (1 to 200).map(i => ("t", s"http://t/cal?d=$i", s"c${i % 2}"))
    val mem = MemoryStream[(String, String, String)]
    val src = mem.toDF.toDF("host", "url", "hash")
    val out = StreamingTrapScreen.screen(src, "host", "url", "hash",
      k = 16, minUrls = 50.0, maxRatio = 10.0)
    val q = out.toDF.writeStream.format("memory").queryName("strap")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gstrap").toString)
      .outputMode(OutputMode.Append()).start()
    // deliberately UNEVEN split: KMV of a set is split-invariant
    mem.addData(obs.take(37): _*)
    q.processAllAvailable()
    mem.addData(obs.drop(37): _*)
    q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT estUrls, estHashes, flagged FROM strap " +
        "WHERE seq = (SELECT max(seq) FROM strap)").collect().head
    assert(last.getDouble(1) === 2.0, "2 distinct bodies stay exact")
    assert(last.getDouble(0) > 50.0,
      "200 distinct urls through a k=16 sketch estimate well above " +
        "the mass floor")
    assert(last.getBoolean(2), "the trap flags")
  }
}
