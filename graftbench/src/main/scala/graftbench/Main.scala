package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload's seeded input, time
  * a cold op, a warm-up op and then warm ops for the requested seconds,
  * check every op's outputs, and write the run's figures as JSON.
  *
  * Usage: Main --workload NAME --seed N --seconds S --trace 0|1
  *             --work DIR --result FILE --cores N
  *             --metrics NAME:UNIT,NAME:UNIT,...
  *
  * --metrics names the figures to report, in order, with their units:
  * the end-to-end metrics with --trace 0, the per-layer metrics with
  * --trace 1. With --trace 1 the warm ops alternate between traced and
  * untraced, the figures are those of the traced ones, and the spans are
  * written under DIR/trace. */
object Main {
  private final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, result: String, cores: Int,
      metrics: Seq[(String, String)])

  private final case class OpResult(index: Int, traced: Boolean, wallS: Double,
      cpuS: Double, failures: Seq[String], layer: Map[String, Double])

  /** Set-ups per run: one before the cold op, the rest after it, so the
    * cold op follows a single set-up as a one-shot run would. */
  private val SetupReps = 3
  /** Ops after the cold one that are timed and checked but left out of
    * the warm figures, because the JIT is still compiling what the cold
    * op loaded: the first op after the cold one runs 20-30% slower than
    * the ones after it. */
  private val WarmUpOps = 1
  /** Warm ops a run makes even when they overrun --seconds: two, and in a
    * traced run two traced and two untraced ops. Ten runs of each workload
    * gave the median of two warm ops about the same spread across runs as
    * the median of three (IQR/median 0.06-0.14 either way, 4 cores); the
    * third op would add 6-8 s to every run. */
  private def minWarmOps(trace: Boolean): Int = if (trace) 4 else 2

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val metrics = need("metrics").split(",").toSeq.map { nu =>
      nu.split(":") match {
        case Array(n, u) => n -> u
        case _ => sys.error(s"--metrics entry '$nu' is not NAME:UNIT")
      }
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"), need("cores").toInt,
      metrics)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload.byName(o.workload)
      .getOrElse(sys.error(s"unknown workload ${o.workload}; known: ${Workload.names.mkString(", ")}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = HostSample.now()
    val cpu0 = Counters.now().cpuNs

    val spark = session(o)
    val sessionUpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val inputDir = s"${o.work}/input/${w.name}"
    def setup(): Double = {
      val t0 = System.nanoTime()
      w.setup(spark, inputDir, o.seed, o.cores)
      (System.nanoTime() - t0) / 1e9
    }
    val firstSetupS = setup()

    val runId = s"${w.name}-seed${o.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark, runId)

    def runOp(index: Int, traced: Boolean): OpResult = {
      tracer.setEnabled(traced)
      val c0 = Counters.now()
      val t0 = System.nanoTime()
      val err =
        try { tracer.span("op") { w.op(spark, tracer) }; None }
        catch { case e: Throwable => Some(s"op threw: $e") }
      val wallS = (System.nanoTime() - t0) / 1e9
      val d = Counters.now() - c0
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          tracer.drain()
          val root = tracer.last("op").get
          val spans = w.spanMetrics.map { case (span, metric) =>
            metric -> tracer.last(span).filter(_.startMs >= root.startMs)
              .map(_.durS).getOrElse(0.0) }
          tracer.layerFigures(root, o.cores, w.focus) ++ spans ++ Map(
            "codegen.compile_s" -> d.codegenNs / 1e9,
            "codegen.classes" -> d.codegenClasses.toDouble,
            "jvm.jit_s" -> d.jitMs / 1000.0,
            "jvm.gc_s" -> d.gcMs / 1000.0)
        }
      tracer.setEnabled(false)
      val failures = err.toSeq ++ (if (err.nonEmpty) Nil else
        try w.check() catch { case e: Throwable => Seq(s"check threw: $e") })
      Materialized.release(spark)
      val retained =
        if (traced) Map("storage.retained_mb" -> storageMb(spark)) else Map.empty
      failures.foreach(f => System.err.println(s"[graftbench] op $index: $f"))
      OpResult(index, traced, wallS, d.cpuNs / 1e9, failures, layer ++ retained)
    }

    val ops = mutable.ArrayBuffer(runOp(0, o.trace))
    val setupTimes = firstSetupS +: (2 to SetupReps).map(_ => setup())
    val setupS = sessionUpS + median(setupTimes)
    // the measured --seconds are the cold op's, the warm-up's and the warm ops'
    val warmStart = System.nanoTime()
    def elapsed = ops.head.wallS + (System.nanoTime() - warmStart) / 1e9
    def warm = ops.drop(1 + WarmUpOps)
    def nextOpS = median((if (warm.isEmpty) ops else warm).map(_.wallS).toSeq)
    while (warm.size < minWarmOps(o.trace) || elapsed + nextOpS <= o.seconds)
      ops += runOp(ops.size, o.trace && ops.size % 2 == 0)

    val traceCounts = if (o.trace) {
      tracer.setEnabled(true)
      try tracer.span("trace.counts") { w.traceCounts(spark) }
      finally tracer.setEnabled(false)
    } else Map.empty[String, Double]

    val cold = ops.head
    val plain = warm.filter(!_.traced).toSeq
    val traced = warm.filter(_.traced).toSeq
    val drift = plain.last.wallS / plain.head.wallS
    val failed = ops.count(_.failures.nonEmpty)

    val figures: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> setupS,
        "cold_op_s" -> cold.wallS,
        "op_wall_s" -> median(warm.map(_.wallS).toSeq),
        "op_cpu_s" -> median(warm.map(_.cpuS).toSeq),
        "peak_rss_mb" -> peakRssMb())
      else {
        val perOp = traced.flatMap(_.layer.keys).distinct.map(n =>
          n -> median(traced.map(_.layer.getOrElse(n, 0.0)))).toMap
        val coldLayer = Seq("codegen.compile_s", "catalyst.plan_s", "jvm.jit_s").map(n =>
          s"cold.$n" -> cold.layer.getOrElse(n, 0.0))
        val extra = Map(
          "op.drift" -> drift,
          "trace.overhead" -> median(traced.map(_.wallS)) / median(plain.map(_.wallS)))
        perOp ++ coldLayer ++ extra ++ traceCounts
      }
    // another workload's engine layer is idle here and reports 0; any other
    // name must have a figure (the owning workload's runs check its layer)
    def idle(n: String) = o.trace && Workload.layers.exists(l =>
      l != w.layer && n.startsWith(l + "."))
    val unknown = o.metrics.map(_._1).filterNot(n => figures.contains(n) || idle(n))
    require(unknown.isEmpty, s"no figure for metrics ${unknown.mkString(", ")}")
    val metrics = o.metrics.map { case (n, u) => (n, figures.getOrElse(n, 0.0), u) }

    if (o.trace) tracer.write(Paths.get(o.work, "trace", s"$runId.spans.jsonl"))

    val host = HostSample.now().since(host0, Counters.now().cpuNs - cpu0)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def jsonList(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val failures = ops.flatMap(r => r.failures.map(f => s"op ${r.index}: $f"))
    val context =
      s"""{"workload":"${w.name}","input":"${w.describe}","seed":${o.seed},""" +
        s""""cores":${o.cores},"trace":${o.trace},"run_id":"$runId",""" +
        s""""ops_attempted":${ops.size},"ops_failed":$failed,"warm_up_ops":$WarmUpOps,""" +
        s""""op_walls_s":${jsonList(ops.map(_.wallS).toSeq)},""" +
        s""""op_traced":${ops.map(_.traced).mkString("[", ",", "]")},""" +
        s""""drift_last_over_first":${num(drift)},""" +
        s""""session_up_s":$sessionUpS,"setup_reps_s":${jsonList(setupTimes)},""" +
        s""""setup_cold_s":${sessionUpS + firstSetupS},""" +
        s""""host_steal_frac":${num(host._1)},"host_other_busy_frac":${num(host._2)},""" +
        s""""loadavg_start":${num(host0.loadavg)},""" +
        s""""failures":${failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")}}"""
    val out =
      s"""{"correct":${failed == 0},"attempted":${ops.size},"failed":$failed,""" +
        s""""metrics":$metricJson,"context":$context}"""
    Files.write(Paths.get(o.result), out.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Host CPU counters from /proc/stat, sampled at run start and end the
  * way the engine's Bench does: the steal share of all ticks, and the
  * share busy with other processes (busy ticks minus this process's). */
final case class HostSample(total: Long, idle: Long, steal: Long, loadavg: Double) {
  def since(s0: HostSample, ownCpuNs: Long): (Double, Double) = {
    val dt = (total - s0.total).toDouble
    if (dt <= 0) (Double.NaN, Double.NaN)
    else {
      val busy = dt - (idle - s0.idle) - (steal - s0.steal)
      val ownTicks = ownCpuNs / 1e7 // USER_HZ = 100
      ((steal - s0.steal) / dt, math.max(0.0, busy - ownTicks) / dt)
    }
  }
}

object HostSample {
  def now(): HostSample = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      HostSample(v.take(8).sum, v(3) + v(4), if (v.length > 7) v(7) else 0L, load)
    } catch { case _: Exception => HostSample(0, 0, 0, load) }
  }
}
