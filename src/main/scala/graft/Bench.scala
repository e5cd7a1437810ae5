package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Queries are forced through the noop sink so the full plan executes
  * (a bare count() would let Catalyst prune most of the work).
  *
  * Self-defending measurement (a contended host once recorded 297 s for
  * an ~80 s suite): a warmup action absorbs JVM/codegen startup, every
  * query runs TWICE and reports the min (an OS scheduling stall hits one
  * run, not both), and the JSON carries availableProcessors + the 1-min
  * load average so a polluted run is self-evident from the artifact.
  */
object Bench {

  /** Parse one STRESS_HISTORY.jsonl row's per-query
    * `"name":[base, stress, ratio]` triples — tolerating the OPTIONAL
    * fourth element (the in-run retry reading, emitted for tripped
    * queries since round 12) and any future trailing elements, so a
    * round that retries never becomes invisible to the NEXT round's
    * trend comparison. Tolerant of surrounding fields; returns empty
    * on garbage lines. */
  private[graft] def parseStressRow(
      line: String): Map[String, (Double, Double, Double)] =
    """"(q[\w]+)":\[(-?[\d.eE]+),(-?[\d.eE]+),(-?[\d.eE]+)(?:,[^\]]*)?\]""".r
      .findAllMatchIn(line)
      .map(m => m.group(1) ->
        (m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble))
      .toMap

  /** The `"reps":N` field of a history row (10 when absent — every
    * recorded round has used the default). Ratios are stored RAW
    * (t_stress/t_base); trend comparison must normalize both sides by
    * their OWN round's reps or a reps/fixture change trips everything. */
  private[graft] def parseStressReps(line: String): Double =
    """"reps":(-?[\d.eE]+)""".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).filter(_ > 0).getOrElse(10.0)

  /** Last USABLE history row for trend comparison: skips rows flagged
    * `"polluted":true` (recorded since round 10), rows flagged
    * `"subset":true` (SPARK_GRAFT_ONLY-filtered runs opted in via
    * SPARK_GRAFT_STRESS_APPEND — targeted scale evidence, not a trend
    * point), rows with no query table, and killed-run garbage — a
    * launcher killed mid-pass leaves a row whose base times are all
    * ~4 ms (observed round 9); majority of bases under 10 ms
    * disqualifies the row. */
  private[graft] def lastUsableStressRow(
      lines: Seq[String]): Option[Map[String, (Double, Double, Double)]] =
    lines.reverseIterator
      .filterNot(_.contains("\"polluted\":true"))
      .filterNot(_.contains("\"subset\":true"))
      .map(parseStressRow)
      .find { m =>
        m.nonEmpty && m.values.count(_._1 >= 0.01) * 2 > m.size
      }

  /** Stress-trend tripwire (verdict r9 task #3): a query whose
    * normalized ratio-of-linear moved >1.5x versus the previous usable
    * round's row AND now sits above linear is flagged — WAIVERS DO NOT
    * EXEMPT IT (q165's 3.7x -> 16.1x same-round spread is the proof
    * case this exists to catch). The above-linear guard keeps healthy
    * sub-linear jitter (0.3x -> 0.5x of linear) from tripping. */
  private[graft] def trendSuspects(
      prev: Map[String, (Double, Double, Double)],
      rows: Seq[(String, Double, Double, Double)],
      reps: Double, prevReps: Double = 10.0,
      failed: Set[String] = Set.empty): Seq[String] =
    rows.collect { case (n, tb, _, r)
      if !failed.contains(n) && tb > 0.05 && r > 0 &&
        (r / reps) > 1.0 &&
        prev.get(n).exists { case (ptb, _, pr) =>
          ptb > 0.05 && pr > 0 &&
            (r / reps) > 1.5 * (pr / prevReps) } => n }

  /** Passive task-metrics aggregator for the stress section: sums task
    * GC time, spill, and shuffle bytes, and tracks the max
    * peakExecutionMemory, across all tasks between reset() and
    * snapshot(). Attribution data, not timings — the round-11 driver
    * stress trips were unactionable because the artifact carried a
    * single wall-clock number and nothing naming the mechanism
    * (spill? GC? shuffle growth?). Listener events post async; callers
    * snapshot after a short drain sleep and treat the numbers as
    * approximate per-query attribution, which is all they need to be. */
  private final class TaskMetricsAgg
      extends org.apache.spark.scheduler.SparkListener {
    private var gcMs, spill, shRead, shWrite, peak = 0L
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        val m = te.taskMetrics
        if (m != null) {
          gcMs += m.jvmGCTime
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          peak = math.max(peak, m.peakExecutionMemory)
        }
      }
    def reset(): Unit = synchronized {
      gcMs = 0; spill = 0; shRead = 0; shWrite = 0; peak = 0
    }
    /** (task_gc_ms, spill_bytes, shuffle_read, shuffle_write, peak). */
    def snapshot(): (Long, Long, Long, Long, Long) =
      synchronized { (gcMs, spill, shRead, shWrite, peak) }
  }

  private def metricsJson(m: (Long, Long, Long, Long, Long)): String = {
    val (gc, sp, sr, sw, pk) = m
    s""""task_gc_ms":$gc,"spill_mb":${sp / 1048576},""" +
      s""""shuffle_read_mb":${sr / 1048576},""" +
      s""""shuffle_write_mb":${sw / 1048576},""" +
      s""""peak_exec_mb":${pk / 1048576}"""
  }

  /** The session every bench row runs in (and [[ExplainApp]] plans in):
    * `local[cpus]`, one shuffle partition per core, AQE on. */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet has TIMESTAMP(NANOS); read as nanos-epoch longs
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val benchStartMs = System.currentTimeMillis
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // load average BEFORE this JVM does any work: external contention at
    // entry, unpolluted by the bench's own executor threads
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // loadavg carries ~1 min of memory of the LAUNCHER's own startup
    // burst (sbt project load + JIT spin all 32 cores), so it reads 2-3
    // even on an idle host. The honest external signal: sample
    // /proc/stat while THIS process sleeps — whatever CPU ticks by is
    // someone else's.
    // -1 sentinel = sample unavailable -> the gate falls back to loadavg
    def cpuSample(): (Long, Long, Long) = {
      val f = scala.io.Source.fromFile("/proc/stat")
      val v = try f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally f.close()
      // total, idle+iowait, steal (field 8: CPU the HYPERVISOR took —
      // on this Firecracker host the dominant mid-run interference;
      // invisible to any in-guest process listing). Total sums only
      // fields 0-7: guest/guest_nice are already inside user ticks and
      // would double-count, understating the steal fraction.
      (v.take(8).sum, v(3) + v(4), if (v.length > 7) v(7) else 0L)
    }
    val startSample: Option[(Long, Long, Long)] =
      try Some(cpuSample()) catch { case _: Throwable => None }
    val busyStart: Double = try {
      val (t0, i0, _) = cpuSample(); Thread.sleep(2000)
      val (t1, i1, _) = cpuSample()
      if (t1 == t0) 0.0 else 1.0 - (i1 - i0).toDouble / (t1 - t0)
    } catch { case _: Throwable => -1.0 }
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark) // SQL surface

    // Warmup: exercise scan + shuffle + codegen once, outside any timing.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // a failed query must NOT pass off its time-to-failure as a timing:
    // it is recorded by name and forces polluted=true in the artifact
    val failedQueries = scala.collection.mutable.LinkedHashSet[String]()
    // a bench row whose query returns ZERO rows times nothing real (the
    // q326 lesson, same detector as Verify.dumpGated): pass 1 observes
    // each query's output row count through a CollectMetrics node (no
    // extra action, one counter per output row) and names offenders here
    val vacuousQueries = scala.collection.mutable.LinkedHashSet[String]()
    def timeOnceAt(name: String, dir: String, failures: scala.collection.mutable.Set[String],
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        observeRows: Boolean = false): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, dir)
        if (observeRows) {
          val obs = org.apache.spark.sql.Observation(s"graft_rows_$name")
          df.observe(obs, org.apache.spark.sql.functions
              .count(org.apache.spark.sql.functions.lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          val rows = obs.get.getOrElse("rows", 0L) match {
            case n: Long => n; case n: Int => n.toLong; case _ => -1L
          }
          if (Verify.vacuous(name, rows)) {
            vacuousQueries += name
            System.err.println(s"[bench] $name VACUOUS: 0 output rows " +
              "and not on SparkEntry.zeroRowAllowlist - this row times " +
              "nothing real")
          }
        } else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          failures += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        observeRows: Boolean = false): Double =
      timeOnceAt(name, sfDir, failedQueries, fn, observeRows)

    // Dev aid (same convention as Verify; driver leaves it unset):
    // SPARK_GRAFT_ONLY=q165 restricts the batch passes AND the stress
    // section to matching-prefix queries — for isolating one query's
    // scaling behavior without a 6-minute full pass. Streaming drives
    // are skipped too unless a listed prefix starts with "s".
    val benchOnly = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    def selected(name: String): Boolean =
      benchOnly.isEmpty || benchOnly.exists(name.startsWith)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected(q._1))
    // two full passes, min per query: a transient host stall pollutes one
    // pass; the min of two is the honest steady-state figure. Session
    // caches (shingle table, IVF index) amortize WITHIN a pass — q22/23/24
    // share one shingle build as designed — but are cleared BETWEEN passes
    // so the min still carries each pass's one cold build instead of
    // timing a pure cache hit.
    val pass1 = ordered.map { case (n, f) =>
      n -> timeOnce(n, f, observeRows = true) }.toMap
    // Graceful degradation under a launcher timeout (round-15 lesson:
    // rc=124 loses EVERYTHING): when SPARK_GRAFT_TIME_BUDGET_S is set and
    // the elapsed wall clock (from main entry) exceeds it, the remaining
    // pass-2 queries reuse their pass-1 reading instead of re-running —
    // a single-pass number beats a dead process. Reused names are listed
    // in "single_pass" so the artifact says which rows lack a retime.
    val timeBudgetS = sys.env.get("SPARK_GRAFT_TIME_BUDGET_S")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).filter(_ > 0)
    def overBudget: Boolean = timeBudgetS.exists(b =>
      (System.currentTimeMillis - benchStartMs) / 1000.0 > b)
    val singlePass = scala.collection.mutable.LinkedHashSet[String]()
    // ONE registry clear (round-10): every SessionCache registers at
    // construction, so a new cache can never silently miss this boundary
    // (the round-8/round-9 phantom-reading bug class)
    graft.ops.SessionCache.clearAll()
    val pass2 = ordered.map { case (n, f) =>
      if (overBudget) { singlePass += n; n -> pass1(n) }
      else n -> timeOnce(n, f) }.toMap

    // Streaming subsystem micro-bench: MemoryStream-driven (deterministic
    // row count, no wall-clock-dependent rate source), end-to-end through
    // a real StreamingQuery — windowed profile aggregation and stateful
    // fingerprint dedup, the two streaming operators. Timed like the
    // batch queries: twice, min.
    def streamingOnce(tag: String): Map[String, Double] = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      def timeIt(name: String)(body: => Unit): Double = {
        val t0 = System.nanoTime()
        try body catch { case e: Throwable =>
          failedQueries += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      def deleteRecursively(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(deleteRecursively))
        f.delete(); ()
      }
      val profileSec = timeIt("s01_streaming_profile") {
        val mem = MemoryStream[(java.sql.Timestamp, Double, String)]
        val q = graft.streaming.StreamingProfiler.windowedProfile(
            mem.toDF.toDF("ts", "v", "s"),
            "ts", "1 minute", "2 minutes")
          .writeStream.format("memory").queryName(s"bench_sprof_$tag")
          .outputMode(OutputMode.Update()).start()
        (0 until 10).foreach { b =>
          mem.addData((0 until 10000).map { i =>
            val n = b * 10000 + i
            (new java.sql.Timestamp(1700000000000L + n * 10L),
              (n % 997).toDouble, s"s${n % 31}")
          })
          // two barriers (the s05 lesson): watermark still advances
          // mid-run, per-batch barrier overhead stops dominating
          if (b == 4 || b == 9) q.processAllAvailable()
        }
        q.stop()
      }
      val dedupSec = timeIt("s02_streaming_dedup") {
        val mem = MemoryStream[String]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-dedup-$tag").toString
        val q = graft.streaming.StreamingDedup.dedupByFingerprint(
            mem.toDF.toDF("text"), "text")
          .writeStream.format("memory").queryName(s"bench_sdedup_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        (0 until 5).foreach { b =>
          // ~50% duplicates across batches: every odd doc repeats doc/2
          mem.addData((0 until 10000).map { i =>
            val n = b * 10000 + i
            val id = if (n % 2 == 0) n else n / 2
            s"synthetic document body number $id with shared filler text"
          })
          q.processAllAvailable()
        }
        q.stop()
        deleteRecursively(new java.io.File(ckpt)) // state-store tmp files
      }
      val sessSec = timeIt("s03_streaming_sessionize") {
        val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-ssess-$tag").toString
        val q = graft.streaming.StreamingSessionize.sessionStats(
            mem.toDF.toDF("user", "ts", "v"), "user", "ts",
            "30 seconds", "v")
          .writeStream.format("memory").queryName(s"bench_ssess_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        (0 until 5).foreach { b =>
          // 1000 users, ~1 event/10s each with periodic >30s gaps so
          // sessions continually close and evict
          mem.addData((0 until 10000).map { i =>
            val n = b * 10000 + i
            val user = n % 1000L
            val step = n / 1000
            val t = 1700000000000L + user * 17 + step * 10000L +
              (step / 7) * 60000L // every 7th step jumps a minute: new session
            (user, new java.sql.Timestamp(t), (n % 97).toDouble)
          })
          if (b == 2 || b == 4) q.processAllAvailable()
        }
        q.stop()
        deleteRecursively(new java.io.File(ckpt))
      }
      val driftSec = timeIt("s04_streaming_drift") {
        val mem = MemoryStream[(java.sql.Timestamp, Double)]
        val base = graft.streaming.StreamingDrift.Baseline
          .fromCounts(0.0, 1000.0, Seq.fill(20)(500L))
        val q = graft.streaming.StreamingDrift.psiVsBaseline(
            mem.toDF.toDF("ts", "v"), "ts", "v", base,
            "1 minute", "2 minutes")
          .writeStream.format("memory").queryName(s"bench_sdrift_$tag")
          .outputMode(OutputMode.Update()).start()
        (0 until 10).foreach { b =>
          mem.addData((0 until 10000).map { i =>
            val n = b * 10000 + i
            (new java.sql.Timestamp(1700000000000L + n * 10L),
              (n % 997).toDouble) // in-range, mildly non-uniform
          })
          // barriers every 5 generations (the s05 lesson): the PSI
          // answers are gated elsewhere; five extra barrier rounds here
          // bought nothing but micro-batch overhead
          if (b == 4 || b == 9) q.processAllAvailable()
        }
        q.stop()
      }
      val joinSec = timeIt("s05_streaming_interval_join") {
        val lmem = MemoryStream[(Long, java.sql.Timestamp, Double)]
        val rmem = MemoryStream[(Long, java.sql.Timestamp)]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-sjoin-$tag").toString
        val q = graft.streaming.StreamingIntervalJoin.intervalJoin(
            lmem.toDF.toDF("user", "ts", "v"),
            rmem.toDF.toDF("r_user", "r_ts"),
            "user", "r_user", "ts", "r_ts", 60L, "30 seconds")
          .writeStream.format("memory").queryName(s"bench_sjoin_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        (0 until 5).foreach { b =>
          // one marker per user per generation, then 10k events spread
          // over the next ~100 s: ~60% land inside a marker's 60 s span.
          // Only TWO processAllAvailable barriers (after generations 2
          // and 4): each barrier on a stream-stream join costs several
          // internal micro-batches (data + no-data watermark rounds),
          // and five of them dominated the measured 24 s wall with
          // barrier overhead, not join throughput. Two rounds still
          // advance the watermark mid-run, so right-state eviction is
          // exercised; rows per run are unchanged.
          val t0 = 1700000000000L + b * 100000L
          rmem.addData((0 until 500).map(u =>
            (u.toLong, new java.sql.Timestamp(t0))))
          lmem.addData((0 until 5000).map { i =>
            val n = b * 5000 + i
            (n % 500L, new java.sql.Timestamp(t0 + (i / 50) * 1000L),
              (n % 97).toDouble)
          })
          if (b == 2 || b == 4) q.processAllAvailable()
        }
        q.stop()
        deleteRecursively(new java.io.File(ckpt))
      }
      val hhSec = timeIt("s06_streaming_heavy_hitters") {
        val mem = MemoryStream[String]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-shh-$tag").toString
        val q = graft.streaming.StreamingHeavyHitters.heavyHitters(
            mem.toDF.toDF("k"), "k", capacity = 64, buckets = 32)
          .writeStream.format("memory").queryName(s"bench_shh_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update()).start()
        (0 until 5).foreach { b =>
          // zipf-ish mix: 20% of traffic on 10 hot keys, the rest over
          // an unbounded cold domain (state must stay capacity-bounded)
          mem.addData((0 until 20000).map { i =>
            val n = b * 20000 + i
            if (n % 5 == 0) s"hot-${n % 10}" else s"cold-$n"
          })
          q.processAllAvailable()
        }
        q.stop()
        deleteRecursively(new java.io.File(ckpt))
      }
      val adSec = timeIt("s07_streaming_approx_distinct") {
        val mem = MemoryStream[(java.sql.Timestamp, String)]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-sad-$tag").toString
        val q = graft.streaming.StreamingDistinct.windowedApproxDistinct(
            mem.toDF.toDF("ts", "k"), "ts", "k",
            "1 minute", "2 minutes")
          .writeStream.format("memory").queryName(s"bench_sad_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Update()).start()
        val base = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
          .getTime
        (0 until 5).foreach { b =>
          // 20k events/batch, ~3 windows in flight, high-card keys
          mem.addData((0 until 20000).map { i =>
            val n = b * 20000 + i
            (new java.sql.Timestamp(base + n * 10L), s"u${n % 15000}")
          })
          if (b == 2 || b == 4) q.processAllAvailable()
        }
        q.stop()
        deleteRecursively(new java.io.File(ckpt))
      }
      val rtSec = timeIt("s08_streaming_running_totals") {
        val prev = spark.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val mem = MemoryStream[(String, Double)]
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft-bench-srt-$tag").toString
          val q = graft.streaming.StreamingRunningTotals.runningTotals(
              mem.toDF.toDF("k", "v"), "k", "v")
            .writeStream.format("memory").queryName(s"bench_srt_$tag")
            .option("checkpointLocation", ckpt)
            .outputMode(OutputMode.Update()).start()
          (0 until 5).foreach { b =>
            // 20k updates/batch over 2k live keys (RocksDB-backed
            // transformWithState state: one (count, sum) pair per key)
            mem.addData((0 until 20000).map { i =>
              val n = b * 20000 + i
              (s"k${n % 2000}", (n % 97).toDouble)
            })
            q.processAllAvailable()
          }
          q.stop()
          deleteRecursively(new java.io.File(ckpt))
        } finally prev match {
          case Some(v) => spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
      }
      // the web-scale Bloom swap-in of q308's stateless decontamination
      // screen (verdict r9 task #7): synthetic 40k-doc stream probed
      // against a 50k-fingerprint Bloom (fpp 1%) — times the in-row
      // winnow + bloom-filter path; the fp-rate contract is asserted in
      // StreamingContaminationSpec
      val scbSec = timeIt("s09_streaming_contamination_bloom") {
        val bench = (0L until 50000L).map(_ * 2654435761L).toArray
        val bloom = org.apache.spark.util.sketch.BloomFilter
          .create(bench.length.toLong, 0.01)
        bench.foreach(bloom.putLong)
        val mem = MemoryStream[(Long, String)]
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft-bench-scb-$tag").toString
        val q = graft.streaming.StreamingContamination
          .flagContaminatedBloom(mem.toDF.toDF("doc_id", "text"),
            "doc_id", "text", bloom, k = 4, w = 4, minShared = 2)
          .writeStream.format("memory").queryName(s"bench_scb_$tag")
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append()).start()
        (0 until 4).foreach { b =>
          mem.addData((0 until 10000).map { i =>
            val n = b * 10000 + i
            (n.toLong, (0 until 30).map(j =>
              s"w${(n * 31 + j * 7) % 100000}").mkString(" "))
          })
          if (b == 1 || b == 3) q.processAllAvailable()
        }
        q.stop()
        spark.catalog.dropTempView(s"bench_scb_$tag")
        deleteRecursively(new java.io.File(ckpt))
      }
      Map("s01_streaming_profile" -> profileSec,
        "s02_streaming_dedup" -> dedupSec,
        "s03_streaming_sessionize" -> sessSec,
        "s04_streaming_drift" -> driftSec,
        "s05_streaming_interval_join" -> joinSec,
        "s06_streaming_heavy_hitters" -> hhSec,
        "s07_streaming_approx_distinct" -> adSec,
        "s08_streaming_running_totals" -> rtSec,
        "s09_streaming_contamination_bloom" -> scbSec)
    }
    val runStreaming = benchOnly.isEmpty || benchOnly.exists(_.startsWith("s"))
    val sPass1 = if (runStreaming) streamingOnce("p1") else Map.empty[String, Double]
    val sPass2 =
      if (!runStreaming) Map.empty[String, Double]
      else if (overBudget) { singlePass ++= sPass1.keys.toSeq.sorted; sPass1 }
      else streamingOnce("p2")

    // ---- 10x stress section: the scaling table as a per-round artifact
    // (round-7 ran it by hand into NOTES prose; this regenerates it every
    // round). OPT-IN since round 16: SPARK_GRAFT_STRESS_DIR names a
    // graft.StressData tiling of sfDir, or SPARK_GRAFT_STRESS=1 uses the
    // pre-generated /tmp/graft_sf1 (10x of sf0.1) when present; BOTH
    // unset -> the section is skipped and stress_ran=false. The old
    // behavior (auto-enable whenever /tmp/graft_sf1 exists) is what blew
    // the round-15 driver budget: the committed STRESS_HISTORY rows are
    // the builder's job, and an unattended run must not pay ~450 s of
    // stress it never asked for.
    // One pass per scale on the now-warm JVM, session caches cleared
    // before each scale so ratios measure operator cost, not cache hits
    // (WITHIN a scale the family caches amortize by design, as in the
    // main passes). Verdict metric: norm_ratio = (t_stress/t_base)/reps —
    // 1.0 is exactly linear scaling; > 3.0 (3x worse than linear) with no
    // documented waiver marks a stress suspect. Stress failures are
    // tracked separately and do NOT flip the main artifact's polluted
    // flag (they are named in the stress JSON instead).
    val stressDirOpt = sys.env.get("SPARK_GRAFT_STRESS_DIR")
      .filter(_.nonEmpty)
      .orElse(Some("/tmp/graft_sf1")
        .filter(_ => sys.env.get("SPARK_GRAFT_STRESS").contains("1"))
        .filter(d => new java.io.File(d).isDirectory))
    val stressReps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "10").toDouble
    val stressNames = Seq(
      "q00c_profile_gate", "q22_ngram_jaccard", "q26b_embed_topk_ivf",
      "q26c_embed_topk_ivf_persisted", "q46_mad", "q67_range_join",
      "q78_equidepth_hist", "q106_lsh_clusters", "q165_mutual_knn",
      "q184_pagerank", "q185_lsh_cand_clusters", "q192_star_join_deep",
      "q212_bpe_merges", "q222_naive_bayes", "q230_mahalanobis",
      "q231_cox_ph", "q235_batch_session_window", "q241_cdc_upsert",
      "q243_asof_exec", "q244_markov_stationary", "q248_simhash_pairs",
      // q251 (combo SimHash) is deliberately NOT in this list: the 10x
      // corpus tiles word-SHUFFLED replicas, and SimHash is a word-set
      // signature — every replica family collides in all 56 combination
      // tables, which is the operator's documented run-after-exact-dedup
      // exclusion, not a plan regression (measured: heap exhaustion at
      // 10x, while q248's 4-table scheme scales at 2.9x)
      "q249_asof_timestamp_exec", "q254_pq_adc_recall",
      // the round-9 O(n log n) exact-Kendall claim, measured at 10x
      "q261_kendall_exact",
      // round-9 curation ops whose cost is corpus-scan + keyed joins:
      // the LM-count join ladder and the dup-span window/island pass
      // (word-shuffled replicas keep 8-gram collisions honest: shuffles
      // break long spans, exact-tile pairs within a replica family
      // still share windows)
      "q262_stupid_backoff", "q263_dup_spans",
      // session-3 round-9 additions: the KN four-table count ladder,
      // the 12-round BPE train+encode chain, and the iterative k-core
      // peel (round count can GROW with corpus structure — exactly
      // what a 10x reading should catch)
      "q282_kneser_ney", "q286_bpe_fertility", "q290_kcore",
      // session-4: map-side winnowing (the 10x corpus's replica tiling
      // multiplies shared fingerprints — the df guard must keep the
      // pair join's fanout bounded) and the 64-replicate bootstrap
      // (pure map + two aggregations: the reading should be ~linear)
      "q295_winnow_spans", "q296_bootstrap_ci",
      // round-11: the two-NN intrinsic-dimension kernel moved to the
      // blocked mapPartitions scan (the knnGraph pattern) — tracked so
      // the O(n^2) family's flat-memory claim has a per-round number
      "q321_intrinsic_dim",
      // round-11: the round-10 span-verified dedup family (suffix-
      // automaton LCS verify over df-guarded winnow candidates,
      // components, per-doc disposition) — measured 0.14-0.29x of
      // linear at 10x when added; tracked so candidate-fanout creep
      // in the winnow df-guards would surface as a trend
      "q316_winnow_exact_spans", "q333_span_verified_clusters",
      "q334_dedup_disposition",
      // round-12: the image-family's SCALE row — q340-q343 are
      // fixture-bound (they cannot grow with the stress dir), so the
      // banding+verify machinery gets its 10x reading through the
      // doc_id-derived pseudo-dHash corpus instead
      "q347_dhash_scale",
      // round-12: the HTML extractor's SCALE row (markup synthesized
      // from documents.text, real state machine, md5-gated) — a
      // string-heavy map-only pipeline whose 10x reading should be
      // ~linear; JIT/alloc creep in the scanner would surface here
      "q353_html_scale",
      // round-13: the COMPOSED WARC -> HTML ingestion pipeline's
      // SCALE row (runtime-synthesized per-record-gzipped archives,
      // real record walk + multi-member inflate + HTML extraction) —
      // verdict r12 #5: the operator a real ingestion run hammers,
      // previously unmeasured at 10x (q353 covers only the HTML stage)
      "q366_warc_scale",
      // round-13: q67's associative-aggregate shape through the
      // RangeAgg prefix-sum sweep — zero candidate materialization;
      // tracked next to q67 so the two plans' scale behavior is
      // compared every round
      "q367_range_agg_sweep",
      // round-13: byte-level BPE over the whole corpus (map-only
      // scanner + merge loop; the conservation-law gate) — the
      // tokenizer path's 10x reading should be ~linear; merge-loop
      // or scanner alloc creep would surface here
      "q374_bpe_scale",
      // round-13: KMV vocabulary-overlap sketches — one corpus-sized
      // distinct shuffle + a bounded mergeable heap; the sketch table
      // stays group-sized regardless of corpus, so the 10x reading
      // measures the distinct, not the pairwise stage
      "q376_kmv_overlap",
      // round-14: concat-chunk sequence packing (per-shard prefix-sum
      // window over token counts) — one shuffle on source + a sorted
      // window; the 10x reading should be ~linear, window-partition
      // growth (10x docs per source) is exactly what it measures
      "q382_pack_concat",
      // round-14: content-defined chunking over the whole corpus
      // (map-only gear-hash scan + conservation aggregate) — the
      // sub-document dedup front end; scanner alloc creep or a
      // degenerate-boundary blowup would surface here
      "q385_cdc_scale",
      // round-14: the link-graph front end at corpus scale (synthetic
      // pages per document: real href scan + RFC 3986 resolution +
      // host-edge aggregate) — string-heavy map work + one shuffle;
      // scanner or resolver alloc creep surfaces here
      "q392_link_graph_scale",
      // round-15: the authority-weighted budget composition (extract →
      // PageRank → quota split → per-host window admission) — the
      // host dimension stays FIXED at 10x while the frontier grows,
      // so the reading isolates the frontier shuffle + window; a
      // rank-table recompute creep would also surface here
      "q401_host_budget",
      // round-15: recrawl change-rate estimation (6-fetch history per
      // document: one url shuffle, lag + aggregate inside the
      // partition) — the per-url window family's scale row
      "q405_recrawl_rate",
      // round-15 session 2: DUST rule mining (map-only param
      // explode + ONE equi-join of candidates against the crawl on
      // the stripped spelling + (host,param) aggregate) — the join's
      // both sides grow with the corpus, so the reading measures the
      // url-keyed shuffle; evidence-fanout creep would surface here
      "q411_dust_rules",
      // round-15 session 2: the composed canonical-frontier-key
      // pipeline (redirect resolution joins + per-url canonicalize
      // map + rule mining/application + the key aggregate) — the
      // URL-equivalence capstone's scale row; a regression in ANY
      // stage's plan shows up as a super-linear composite reading
      "q419_frontier_key")
    val stressWaivers = Map(
      "q165_mutual_knn" -> ("documented O(n^2) exact-kNN SCORING " +
        "(irreducible on unstructured embeddings — no cluster geometry " +
        "to prune against); since round 11 the whole ranking is a " +
        "BLOCKED mapPartitions scan against one broadcast corpus — no " +
        "shuffle, no join, no aggregation map in the plan, per-task " +
        "memory = broadcast + O(k) — which retired BOTH prior variance " +
        "classes (r9 window-sort spill 16.1x/3.7x; r10 hash-agg buffer " +
        "pressure 13.7x/4.0x). OBSERVED ENVELOPE at 10x, not a band " +
        "claim (the r11 verdict's correction): builder 1.9-3.0 s, " +
        "driver closing run 6.9 s — the residual spread is host-level " +
        "(GC of the broadcast corpus arrays / JIT state), NOT plan " +
        "structure: r12 task metrics show zero spill and flat O(k) " +
        "memory, and the r12 CheckpointRing freed the session-level " +
        "block-manager pressure the r11 driver host accumulated. " +
        "q26b/q26c/q27 are the approximate scale path"),
      "q67_range_join" -> ("measured-envelope waiver (r12 verdict #2, " +
        "three driver flags): the bin-equi-join plan is correct and " +
        "LINEAR (norm 0.86-0.94x on every clean retry), but at 10x it " +
        "is a ~20-30 s 32-core-SATURATING stage — per-stage metrics " +
        "show spill 0, shuffle 8 MB, task GC <1 s, peak-exec 104 MB, " +
        "so nothing in the plan varies; wall time is CPU-bound " +
        "candidate verify + hash agg, and ANY host co-tenancy extends " +
        "it near-linearly. PINNED round 13 by experiment: fresh-JVM " +
        "isolated 10x = 18.0-26.6 s (4 reps, warm 18 s); with 16 of " +
        "32 cores stolen by synthetic spinners = 31.4-35.8 s; " +
        "in-session first read on an IDLE host = 48.7 s (retry 27.2 s " +
        "= 0.94x) - session-accumulated JIT/GC background work is the " +
        "residual first-read tax. OBSERVED ENVELOPE at 10x: 18-49 s " +
        "builder (idle), 52-90 s driver (loadavg > 3). The " +
        "ASSOCIATIVE-AGGREGATE shape now has a sweep path with no " +
        "candidate window at all: q367_range_agg_sweep (RangeAgg), " +
        "tracked alongside."))
    val stressFailed = scala.collection.mutable.LinkedHashSet[String]()
    // per-query task metrics on the SCALED pass (and retries): the
    // attribution data round 11's trips lacked
    val taskAgg = new TaskMetricsAgg
    spark.sparkContext.addSparkListener(taskAgg)
    val scaledMetrics = scala.collection.mutable
      .LinkedHashMap[String, (Long, Long, Long, Long, Long)]()
    // a def, not a val: the stress passes must EXECUTE only after the
    // main-pass JSON has been printed (round-15: a kill during stress
    // threw away two completed, unprinted main passes)
    def runStressSection(): Option[(String, Seq[String])] = stressDirOpt.map { sdir =>
      def passOver(d: String,
          record: Boolean = false): Map[String, Double] = {
        // registry-wide clear: without it the base pass rides PQ
        // codebooks / backoff-LM state primed by the MAIN passes over
        // the same sfDir while the stress pass pays cold builds —
        // measured as phantom 68x/41x "suspects" on q254/q262 before
        // this clear landed (round 9 session 4; now one call covers
        // every registered cache, present and future)
        graft.ops.SessionCache.clearAll()
        stressNames.filter(selected).map { n =>
          if (record) taskAgg.reset()
          val t = timeOnceAt(n, d, stressFailed, SparkEntry.queries(n))
          if (record) {
            Thread.sleep(150) // listener-bus drain; metrics ≈ attribution
            scaledMetrics(n) = taskAgg.snapshot()
          }
          n -> t
        }.toMap
      }
      val base = passOver(sfDir)
      val scaled = passOver(sdir, record = true)
      val rows = stressNames.filter(selected).map { n =>
        val (tb, ts) = (base(n), scaled(n))
        val ratio = if (tb > 0) ts / tb else -1.0
        (n, tb, ts, ratio)
      }
      val suspects = rows.collect {
        case (n, _, _, r)
          if r / stressReps > 3.0 && !stressWaivers.contains(n) &&
            !stressFailed.contains(n) => n }
      // trend tripwire vs the previous round's usable history row —
      // catches creep the absolute 3x threshold can't see, and waivers
      // don't exempt a query from it
      val prevUsable: Option[(Map[String, (Double, Double, Double)],
          Double)] = try {
        val p = java.nio.file.Paths.get("STRESS_HISTORY.jsonl")
        if (java.nio.file.Files.exists(p)) {
          val lines = java.nio.file.Files.readAllLines(p)
            .toArray(Array.empty[String]).toSeq
          lines.reverseIterator
            .filterNot(_.contains("\"polluted\":true"))
            .map(l => (parseStressRow(l), parseStressReps(l)))
            .find { case (m, _) =>
              m.nonEmpty && m.values.count(_._1 >= 0.01) * 2 > m.size
            }
        } else None
      } catch { case _: Throwable => None }
      val trendSusRaw: Seq[String] = prevUsable.map { case (m, pr) =>
        trendSuspects(m, rows, stressReps, pr, stressFailed.toSet)
      }.getOrElse(Nil)
      // ---- in-run retry of every trip (verdict r11 #2): one more
      // timed run at the stress scale, with loadavg + driver-GC +
      // task-metric deltas, so the ARTIFACT distinguishes "transient
      // host event" (retry back in the builder band) from "real
      // regression" (retry confirms) — ending the builder-vs-driver
      // he-said-she-said. Caches cleared once, retries in list order:
      // the same amortization shape as the pass being re-checked.
      val trippedAll = (suspects ++ trendSusRaw).distinct
      val retries: Map[String, (Double, String)] =
        if (trippedAll.isEmpty) Map.empty
        else {
          graft.ops.SessionCache.clearAll()
          val osb = java.lang.management.ManagementFactory
            .getOperatingSystemMXBean
          def driverGcMs: Long = {
            val it = java.lang.management.ManagementFactory
              .getGarbageCollectorMXBeans.iterator()
            var s = 0L
            while (it.hasNext) s += math.max(0L, it.next().getCollectionTime)
            s
          }
          stressNames.filter(trippedAll.contains).map { n =>
            val g0 = driverGcMs
            taskAgg.reset()
            val t = timeOnceAt(n, sdir, stressFailed, SparkEntry.queries(n))
            Thread.sleep(150)
            val m = taskAgg.snapshot()
            val meta = f""""loadavg":${osb.getSystemLoadAverage}%.2f,""" +
              s""""driver_gc_ms":${driverGcMs - g0},${metricsJson(m)}"""
            n -> (t, meta)
          }.toMap
        }
      // a trend flag whose in-run RETRY reading lands back inside the
      // trend band (<= linear, or <= 1.5x the previous round's norm)
      // is the FIRST-READ measurement tax, not operator creep —
      // round-13 pinned the mechanism (session JIT/GC background work
      // inflates the first scaled read 1.7-4x even on an idle host;
      // q67 48.7 s -> 27.2 s, q185 64.6 -> 14.5 on loadavg 1.4).
      // Cleared flags stay visible in trend_cleared_by_retry with both
      // readings in the row; a REAL regression confirms on retry and
      // stays flagged.
      val byName = rows.map(r => (r._1, r)).toMap
      val trendCleared = trendSusRaw.filter { n =>
        !suspects.contains(n) && retries.get(n).exists { case (rt, _) =>
          val tb = byName(n)._2
          tb > 0.05 && rt > 0 && prevUsable.exists { case (m, prReps) =>
            val rNorm = (rt / tb) / stressReps
            rNorm <= 1.0 || m.get(n).exists { case (ptb, _, pr) =>
              ptb > 0.05 && pr > 0 && rNorm <= 1.5 * (pr / prReps)
            }
          }
        }
      }
      val trendSus = trendSusRaw.filterNot(trendCleared.contains)
      val qJson = rows.map { case (n, tb, ts, r) =>
        retries.get(n) match {
          case Some((rt, _)) =>
            "\"" + n + f"""\":[$tb%.3f,$ts%.3f,$r%.2f,$rt%.3f]"""
          case None => "\"" + n + f"""\":[$tb%.3f,$ts%.3f,$r%.2f]"""
        }
      }.mkString("{", ",", "}")
      val tcJson = trendCleared.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val wJson = stressWaivers.map { case (k, v) =>
        "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
      val susJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
      val sfJson = stressFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val trJson = trendSus.map("\"" + _ + "\"").mkString("[", ",", "]")
      val tmJson = scaledMetrics.map { case (n, m) =>
        "\"" + n + "\":{" + metricsJson(m) + "}" }.mkString("{", ",", "}")
      val rmJson = retries.map { case (n, (_, meta)) =>
        "\"" + n + "\":{" + meta + "}" }.mkString("{", ",", "}")
      (s"""{"stress":{"base_dir":"$sfDir","stress_dir":"$sdir","reps":$stressReps,"norm_trip_threshold":3.0,"queries":$qJson,"suspects":$susJson,"trend_suspects":$trJson,"trend_cleared_by_retry":$tcJson,"waived":$wJson,"failed":$sfJson,"task_metrics":$tmJson,"retry_meta":$rmJson}}""",
        suspects ++ trendSus.filterNot(suspects.contains))
    }

    val allPass1 = pass1 ++ sPass1
    val allPass2 = pass2 ++ sPass2
    val allOrdered = ordered.map(_._1) ++ sPass1.keys.toSeq.sorted
    val results = allOrdered.map { n =>
      n -> math.min(allPass1(n), allPass2(n))
    }

    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val qsBoth = allOrdered.map { n =>
      "\"" + n + f"""\":[${allPass1(n)}%.3f,${allPass2(n)}%.3f]""" }
      .mkString("{", ",", "}")
    // headline "value" stays BATCH-ONLY so totals are comparable across
    // rounds; the streaming micro-bench reports its own rollup field
    // (per-query numbers for both live in the queries maps regardless)
    val total = results.collect {
      case (k, v) if !k.startsWith("s0") => v }.sum
    val streamingTotal = results.collect {
      case (k, v) if k.startsWith("s0") => v }.sum
    val procs = Runtime.getRuntime.availableProcessors
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val t1 = allPass1.values.sum; val t2 = allPass2.values.sum
    // self-defense gate: external CPU at entry (sampled while this
    // process slept — the launcher's own loadavg burst doesn't count),
    // two passes disagreeing >2x in total, or >= 3 individually-suspect
    // queries mean a contended measurement — re-run on a quiet host
    // before trusting it. busyStart > 8% on a 32-core host = 2-3 stray
    // busy cores, enough to visibly stretch the serial profile passes
    // (the old procs/4 loadavg bound passed a run whose headline q00 was
    // 1.6x inflated). Per-query pass disagreement > 2x on non-trivial
    // queries names the suspect rows, so the artifact indicts itself.
    // Direction matters: pass 1 slower than pass 2 is the EXPECTED
    // cold-start shape (JIT, code/page cache) and min-of-two already
    // discards it — on a proven-quiet host (loadavg 0.79, steal 0.4%)
    // a 173-query run showed 9 such pairs and zero reversed ones.
    // Only a slow SECOND pass indicts the run: interference that
    // arrives mid-run after the warm pass already happened.
    val suspects = allOrdered.collect { case n
      if math.min(allPass1(n), allPass2(n)) > 0.5 &&
        allPass2(n) > 2.0 * allPass1(n) => n }
    val coldStarts = allOrdered.collect { case n
      if math.min(allPass1(n), allPass2(n)) > 0.5 &&
        allPass1(n) > 2.0 * allPass2(n) => n }
    val externalLoad =
      if (busyStart >= 0) busyStart > 0.08
      else loadStart > procs / 4.0 // /proc/stat unreadable: loadavg fallback
    // hypervisor steal across the WHOLE run: a clean start gate can't
    // see mid-run throttling (observed: q00b pass pair [12.9 s, 71.3 s]
    // with cpu_busy_start 0.001 — all of it steal on this Firecracker
    // host). > 1% of total CPU ticks stolen = contended measurement.
    // A def, not a val (ADVICE r16): the post-stress re-emission
    // re-samples it so steal arriving DURING the opt-in stress window
    // still flips the final bench_summary's pollution flag.
    def stealFracNow(): Double = (for {
      (st0, _, s0) <- startSample
      (st1, _, s1) <- (try Some(cpuSample()) catch {
        case _: Throwable => None })
      if st1 > st0
    } yield (s1 - s0).toDouble / (st1 - st0)).getOrElse(-1.0)
    val stealFrac: Double = stealFracNow()
    // the suspect-count trigger scales with the catalog: 3 pass-
    // disagreement rows meant contention at 50 queries but are routine
    // cache/JIT warm-up at 200+; the suspects stay listed by name
    // either way, the boolean just summarizes
    val suspectTrip = math.max(3, results.size / 40)
    def pollutedAt(steal: Double): Boolean =
      externalLoad || failedQueries.nonEmpty ||
        math.max(t1, t2) > 2.0 * math.min(t1, t2) ||
        suspects.size >= suspectTrip ||
        steal > 0.01
    val polluted = pollutedAt(stealFrac)
    val suspectJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val coldJson = coldStarts.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val vacuousJson = vacuousQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val singlePassJson = singlePass.map("\"" + _ + "\"").mkString("[", ",", "]")
    val q00Sec = results.toMap.getOrElse("q00_profile_lineitem", -1.0)
    val q00bSec = results.toMap.getOrElse("q00b_profile_sketch", -1.0)
    def emitMainLines(stressRan: Boolean, stressSus: Seq[String],
        steal: Double, poll: Boolean): Unit = {
      val stressSusJson = stressSus.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","streaming_total":$streamingTotal%.3f,"queries":$qs,"sf":"$sfDir","procs":$procs,"loadavg":$load%.2f,"loadavg_start":$loadStart%.2f,"cpu_busy_start":$busyStart%.3f,"cpu_steal_frac":$steal%.4f,"polluted":$poll,"suspect_queries":$suspectJson,"coldstart_queries":$coldJson,"failed_queries":$failedJson,"vacuous_queries":$vacuousJson,"single_pass":$singlePassJson,"pass_totals":[$t1%.3f,$t2%.3f],"queries_passes":$qsBoth}""")
      // The harness that archives this output keeps only the last ~2 KB;
      // the big line above front-loads its verdict fields, so a truncated
      // artifact loses its own pollution flag (round-5 lesson). Repeat the
      // gate verdict in a compact SECOND line so the retained tail always
      // carries it.
      println(f"""{"bench_summary":{"total":$total%.3f,"streaming_total":$streamingTotal%.3f,"polluted":$poll,"cpu_steal_frac":$steal%.4f,"cpu_busy_start":$busyStart%.3f,"suspect_queries":$suspectJson,"coldstart_queries":$coldJson,"failed_queries":$failedJson,"vacuous_queries":$vacuousJson,"single_pass":$singlePassJson,"pass_totals":[$t1%.3f,$t2%.3f],"q00":$q00Sec%.3f,"q00b":$q00bSec%.3f,"n_queries":${results.size},"stress_ran":$stressRan,"stress_suspects":$stressSusJson}}""")
    }
    // Printed IMMEDIATELY after the passes (round-15 lesson: the driver's
    // rc=124 timeout during the then-auto-enabled stress section threw
    // away two completed main passes because these lines only printed at
    // the very end). When the opt-in stress section runs, the SAME two
    // lines are re-printed after it with the stress fields filled in, so
    // a parser reading either the first or the last occurrence sees the
    // identical timing table.
    emitMainLines(stressRan = false, Nil, stealFrac, polluted)
    val stressSection = runStressSection()
    // steal + pollution RE-SAMPLED after the opt-in stress window
    // (ADVICE r16): contention that arrives during stress must flip the
    // final bench_summary and the committed history row, which describe
    // the whole run. No stress section -> identical to the first sample.
    val stealPost =
      if (stressSection.isDefined) stealFracNow() else stealFrac
    val pollutedPost = pollutedAt(stealPost)
    stressSection.foreach { case (json, _) =>
      println(json)
      // tracked per-round series (verdict r8 task #8): super-linear
      // CREEP is only visible as a trend, so every stress run appends
      // its full table to STRESS_HISTORY.jsonl (committed; r7/r8 rows
      // backfilled from round notes in STRESS_HISTORY.md)
      // a SPARK_GRAFT_ONLY-filtered run covers a subset of the stress
      // table: appending it would poison the trend series with a row
      // the majority-of-bases usability check can't always reject.
      // SPARK_GRAFT_STRESS_APPEND=1 opts a subset run in anyway —
      // the row then carries "subset":true, which lastUsableStressRow
      // EXCLUDES from trend selection, so targeted scale evidence
      // (e.g. the round-15 100x readings for three flagship rows) can
      // land in the committed series without touching the 10x trend
      if (benchOnly.isEmpty ||
        sys.env.get("SPARK_GRAFT_STRESS_APPEND").contains("1")) try {
        val tag = sys.env.getOrElse("SPARK_GRAFT_ROUND", "adhoc")
        val subset = benchOnly.nonEmpty
        // polluted/loadavg/steal recorded IN the row so trend analysis
        // (lastUsableStressRow) can exclude contaminated entries —
        // previously a polluted or killed run appended indistinguishable
        // garbage to the very series this feature exists to track
        val line = f"""{"round":"$tag","subset":$subset,"epoch_ms":${System.currentTimeMillis},"polluted":$pollutedPost,"loadavg":$load%.2f,"cpu_steal_frac":$stealPost%.4f,"stress":${json.stripPrefix("{\"stress\":").stripSuffix("}")}}"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("STRESS_HISTORY.jsonl"), line + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stress-history append failed: ${e.getMessage}")
      }
    }
    stressSection.foreach { case (_, sus) =>
      emitMainLines(stressRan = true, sus, stealPost, pollutedPost) }
    spark.stop()
  }
}
