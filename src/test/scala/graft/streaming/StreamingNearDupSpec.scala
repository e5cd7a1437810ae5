package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Unit edges of the streaming LSH candidate detector (q253 gates the
  * corpus pipeline vs DuckDB; this pins cross-batch state, the bucket
  * cap, and duplicate re-arrival on controlled data). */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def drive(batches: Seq[Seq[(Long, String)]],
      maxBucket: Int): Seq[(Int, Long, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val pairs = StreamingNearDup.lshCandidatePairs(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 2, numHashes = 8, bands = 2, maxBucket = maxBucket)
    val sink = "snd_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory("snd-spec").toString
    val q = pairs.toDF.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
  }

  private val dup = "alpha beta gamma delta epsilon"

  test("cross-batch state: a later arrival pairs with an earlier batch's member") {
    val got = drive(Seq(
      Seq(1L -> dup, 2L -> "totally different words here now"),
      Seq(3L -> dup)), maxBucket = 10)
    // doc 3 (batch 2) must pair with doc 1 (batch 1) in both bands
    assert(got.filter(p => p._2 == 1L && p._3 == 3L).map(_._1).toSet
      == Set(0, 1), got)
    assert(!got.exists(p => p._2 == 2L || p._3 == 2L), got)
  }

  test("bucket cap: the first maxBucket members pair, later arrivals are dropped") {
    val got = drive(Seq((1L to 5L).map(i => i -> dup)), maxBucket = 3)
    // per band: members 1,2,3 admitted -> C(3,2)=3 pairs; 4,5 dropped
    val perBand = got.groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3)).toSet)
    assert(perBand(0) == Set((1L, 2L), (1L, 3L), (2L, 3L)), got)
    assert(perBand(1) == perBand(0))
  }

  test("duplicate id re-arrival neither re-pairs nor double-counts capacity") {
    val got = drive(Seq(Seq(1L -> dup), Seq(1L -> dup, 2L -> dup)),
      maxBucket = 10)
    // exactly one (1,2) pair per band; the re-arrived id 1 emits nothing
    assert(got.sorted == Seq((0, 1L, 2L), (1, 1L, 2L)), got)
  }

  test("batch and streaming MinHash-LSH emit the same candidate pairs") {
    val docs = Seq(
      1L -> dup,
      2L -> "totally different words here now",
      3L -> dup,                                  // exact duplicate of 1
      4L -> "alpha beta gamma delta zeta",        // near duplicate of 1
      5L -> "solo",                               // < shingleN words
      6L -> "totally different words here now",   // exact duplicate of 2
      7L -> "alpha beta gamma delta epsilon eta",
      8L -> "solo")
    val sigs = graft.ops.Dedup.minhashSignaturesFromShingles(
      graft.ops.Dedup.wordShingleTable(docs.toDF("doc_id", "text"),
        "doc_id", "text", 2), 8)
    val batch = graft.ops.Dedup.minhashLshPairs(sigs, 2, 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.contains((1L, 3L)) && batch.contains((2L, 6L)), batch)
    assert(!batch.exists(p => p._1 == 5L || p._2 == 5L || p._2 == 8L),
      "a document shorter than shingleN words has no signature")
    val oneBatch = drive(Seq(docs), maxBucket = 100)
    val twoBatches = drive(Seq(docs.filter(_._1 % 2 == 0),
      docs.filter(_._1 % 2 == 1)), maxBucket = 100)
    assert(oneBatch.map(p => (p._2, p._3)).toSet === batch)
    assert(twoBatches.map(p => (p._2, p._3)).toSet === batch)
  }

  private def driveTs(batches: Seq[Seq[(Long, String, Long)]],
      ttlMs: Long): Seq[(Int, Long, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L // fixed epoch base so the fixture is stable
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val pairs = StreamingNearDup.lshCandidatePairsEventTime(
      mem.toDF.toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      ttlMs = ttlMs, shingleN = 2, numHashes = 8, bands = 2)
    val sink = "sndt_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = java.nio.file.Files.createTempDirectory("sndt-spec").toString
    val q = pairs.toDF.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b =>
      mem.addData(b.map { case (id, txt, offMs) =>
        (id, txt, new java.sql.Timestamp(t0 + offMs)) })
      q.processAllAvailable()
    }
    finally q.stop()
    val out = spark.table(sink).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    spark.catalog.dropTempView(sink)
    graft.queries.StreamGate.deleteRecursively(ckpt)
    out
  }

  test("event-time TTL: within-TTL arrivals pair; post-expiry re-arrival re-pairs fresh") {
    val min = 60000L
    val got = driveTs(Seq(
      Seq((1L, dup, 0L), (2L, dup, 10000L)),     // within TTL: (1,2) pairs
      Seq((90L, "totally different words here now", 10 * min)), // wm -> 10m
      Seq((91L, "other unrelated filler sentence", 11 * min)),  // dup bucket
      // times out here (timeout t=10s+1m < watermark 10m) and is removed
      Seq((3L, dup, 12 * min)),                  // fresh bucket: no pairs
      Seq((4L, dup, 13 * min))),                 // pairs with 3 only, not 1/2
      ttlMs = min)
    val byPair = got.map(p => (p._2, p._3)).toSet
    assert(byPair == Set((1L, 2L), (3L, 4L)), got)
    // both bands emit each pair (identical docs share every band bucket)
    assert(got.count(p => (p._2, p._3) == (3L, 4L)) == 2, got)
  }
}
