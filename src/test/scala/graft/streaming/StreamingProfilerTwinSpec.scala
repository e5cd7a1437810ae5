package graft.streaming

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.profile._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Batch ≡ streaming for the profiler: one fixture through a
  * single-batch MemoryStream window and through the batch profile under
  * the same sketch-mode config. Both read one partition, so the sketches
  * (quantiles, HLL, top-K) see the same update order and agree too. */
class StreamingProfilerTwinSpec extends SparkSpec {
  import spark.implicits._

  private val rows = {
    val rnd = new scala.util.Random(3)
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    (0 until 60).map { k =>
      val x = k % 12 match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case 2 => Some(Double.PositiveInfinity)
        case 3 => Some(Double.NegativeInfinity)
        case 4 => Some(0.0)
        case _ => Some(rnd.nextGaussian() * 10)
      }
      (new Timestamp(t0 + k * 1000L),
        if (k % 9 == 0) None else Some(rnd.nextInt(7) - 3),
        x,
        if (k % 5 == 0) None else if (k % 7 == 0) Some(0.0)
        else Some(rnd.nextDouble() * 100 - 50),
        if (k % 8 == 0) null else Seq("a", "bb", "ccc", "", "dddd")(rnd.nextInt(5)),
        if (k % 6 == 0) None else Some(rnd.nextBoolean()),
        if (k % 10 == 0) null
        else Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(rnd.nextLong(400))))
    }
  }
  private val names = Seq("ts", "i", "x", "y", "s", "b", "d")

  /** Streaming nulls stand where the batch report holds NaN. */
  private def same(stream: Any, batch: Double): Boolean = stream match {
    case null => batch.isNaN
    case v: Number =>
      val d = v.doubleValue
      d == batch || (d.isNaN && batch.isNaN)
  }

  test("windowed streaming profile equals the batch sketch-mode profile") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Option[Int], Option[Double], Option[Double],
      String, Option[Boolean], Date)]
    val query = StreamingProfiler.windowedProfile(
        mem.toDF.toDF(names: _*), "ts", "1 day", "1 hour")
      .writeStream.format("memory").queryName("prof_twin")
      .outputMode(OutputMode.Update()).start()
    val w = try {
      mem.addData(rows)
      query.processAllAvailable()
      spark.sql("SELECT * FROM prof_twin").collect()
    } finally query.stop()
    assert(w.length == 1)
    val s = w.head
    def at(k: String): Any = s.get(s.fieldIndex(k))

    val batch = Profiler.profile(
      spark.sparkContext.parallelize(rows, 1).toDF(names: _*), ProfileConfig.minimal)
    assert(s.getAs[Long]("n") == batch.table.n)
    for (c <- batch.columns) {
      val p = c.name
      assert(at(s"${p}_count") == c.common.count, p)
      assert(at(s"${p}_approx_distinct") == c.common.nDistinct, p)
      c.typed match {
        case n: NumericStats =>
          for ((stat, v) <- Seq("sum" -> n.sum, "variance" -> n.variance,
              "min" -> n.min, "max" -> n.max, "skew" -> n.skewness,
              "kurt" -> n.kurtosis, "mean" -> n.mean, "std" -> n.std))
            assert(same(at(s"${p}_$stat"), v), s"$p $stat: ${at(s"${p}_$stat")} vs $v")
          assert(at(s"${p}_zeros") == n.nZeros && at(s"${p}_inf") == n.nInfinite, p)
          val qs = s.getSeq[Any](s.fieldIndex(s"${p}_quantiles"))
          assert(ProfileConfig.minimal.quantiles.zip(qs)
            .forall { case (q, v) => same(v, n.quantiles(q)) }, s"$p quantiles $qs")
        case cat: CategoricalStats =>
          val len = cat.lengths.get
          assert(same(at(s"${p}_len_mean"), len.meanLength), p)
          assert(at(s"${p}_len_min") == len.minLength.toInt, p)
          assert(at(s"${p}_len_max") == len.maxLength.toInt, p)
          assert(same(at(s"${p}_len_median"), len.medianLength), p)
          val top = s.getSeq[Row](s.fieldIndex(s"${p}_topk"))
            .collect { case r if !r.isNullAt(0) => r.getString(0) -> r.getLong(1) }
          assert(top.toMap == cat.topValues.toMap && top.nonEmpty, p)
        case b: BooleanStats =>
          assert(at(s"${p}_true") == b.nTrue && at(s"${p}_false") == b.nFalse, p)
        case d: DateTimeStats =>
          assert(at(s"${p}_min") == d.minEpochSec && at(s"${p}_max") == d.maxEpochSec, p)
        case other => fail(s"$p: unexpected $other")
      }
    }
    assert(batch.columns.map(_.typed.getClass.getSimpleName).distinct.size == 4)
  }
}
