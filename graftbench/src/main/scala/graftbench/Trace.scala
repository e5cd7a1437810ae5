package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * spans line up with the epoch-millisecond times of listener events. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nanos0) / 1e6
}

final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Double) {
  var endMs: Double = Double.NaN
  def durS: Double = (endMs - startMs) / 1000
  def contains(tMs: Double): Boolean =
    tMs >= startMs - 1 && (endMs.isNaN || tMs <= endMs + 1)
}

/** Process-wide counters read before and after an op; their deltas are
  * the op's share because the harness runs one op at a time. */
final case class Counters(cpuNs: Long, jitMs: Long, gcMs: Long,
    codegenNs: Long, codegenClasses: Long) {
  def -(o: Counters): Counters = Counters(cpuNs - o.cpuNs, jitMs - o.jitMs,
    gcMs - o.gcMs, codegenNs - o.codegenNs, codegenClasses - o.codegenClasses)
}

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def now(): Counters = Counters(
    os.getProcessCpuTime,
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime else 0L,
    gcs.map(g => math.max(0L, g.getCollectionTime)).sum,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount)
}

/** Spans recorded around the harness's calls into the engine, plus the
  * Spark job, stage, task and query events that fall inside them.
  *
  * A span carries its id, name, start, end and parent; the run id is
  * written with every record. Jobs are tied to the span that was open on
  * the submitting thread through a local property, which the engine's
  * worker threads inherit; a job whose tag does not name a span open at
  * its start falls back to the innermost span open at that time. Queries
  * (from a QueryExecutionListener) are placed by the time their planning
  * ended. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val SpanProp = "graftbench.span"
  private val sc = spark.sparkContext

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var enabled = false

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val queries = mutable.ArrayBuffer[QueryRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toInt).getOrElse(-1)
        jobs(e.jobId) = new JobRec(e.jobId, tag, e.time)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stagesRun += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m: TaskMetrics = e.taskMetrics
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shWrite += m.shuffleWriteMetrics.bytesWritten
            j.shRead += m.shuffleReadMetrics.totalBytesRead
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.spill += m.diskBytesSpilled
            j.result += m.resultSize
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      val at = ph.get("planning").orElse(ph.get("analysis"))
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized { queries += QueryRec(at, plan, ok) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, ok = false)
  }

  /** Turn tracing on or off for the next op. Off removes both listeners,
    * so an untraced op pays nothing for them. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
    } else {
      drain()
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
    enabled = on
  }

  def drain(): Unit = if (enabled) BusDrain(sc)

  /** Run `body` inside a span named `name`; a plain call when disabled. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
          Clock.nowMs)
        spans += s
        open = s :: open
        s
      }
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(SpanProp, prev)
        synchronized {
          s.endMs = Clock.nowMs
          open = open.tail
        }
      }
    }

  /** The most recent span with this name, if any. */
  def last(name: String): Option[Span] = synchronized {
    spans.reverseIterator.find(_.name == name)
  }

  private def innermostAt(tMs: Double): Int =
    spans.filter(_.contains(tMs)).sortBy(s => -s.startMs).headOption
      .map(_.id).getOrElse(-1)

  private def jobSpan(j: JobRec): Int =
    if (j.tag >= 0 && j.tag < spans.size && spans(j.tag).contains(j.startMs.toDouble))
      j.tag
    else innermostAt(j.startMs.toDouble)

  private def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(s => go(s.id)).foldLeft(Set(id))(_ ++ _)
    go(root)
  }

  /** Milliseconds of [a, b) covered by the union of `iv`. */
  private def covered(a: Double, b: Double, iv: Seq[(Double, Double)]): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def jobIntervals(js: Iterable[JobRec]): Seq[(Double, Double)] =
    js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq

  /** Figures of one finished, drained span subtree: scheduler, executor,
    * shuffle and query-planning sums over the jobs and queries in it,
    * plus the share of `focus` (a child span name) with no job running. */
  def layerFigures(root: Span, cores: Int, focus: Option[String]): Map[String, Double] =
    synchronized {
      val ids = subtree(root.id)
      val js = jobs.values.filter(j => ids.contains(jobSpan(j))).toSeq
      val qs = queries.filter(q => ids.contains(innermostAt(q.atMs.toDouble)))
      val mb = 1024.0 * 1024.0
      val runS = js.map(_.runMs).sum / 1000.0
      val base = Map(
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> js.map(_.stagesRun).sum.toDouble,
        "sched.tasks" -> js.map(_.tasks).sum.toDouble,
        "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "exec.run_s" -> runS,
        "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0,
        "exec.util" -> runS / (root.durS * cores),
        "shuffle.write_mb" -> js.map(_.shWrite).sum / mb,
        "shuffle.read_mb" -> js.map(_.shRead).sum / mb,
        "shuffle.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1000.0,
        "spill_mb" -> js.map(_.spill).sum / mb,
        "driver.result_mb" -> js.map(_.result).sum / mb,
        "catalyst.queries" -> qs.size.toDouble,
        "catalyst.plan_s" -> qs.map(_.planMs).sum / 1000.0)
      val focusFigures = focus.flatMap(n =>
        spans.filter(s => ids.contains(s.id) && s.name == n).lastOption).map { f =>
        val fIds = subtree(f.id)
        val fJobs = js.filter(j => fIds.contains(jobSpan(j)))
        val spanMs = f.endMs - f.startMs
        val busy = covered(f.startMs, f.endMs, jobIntervals(fJobs))
        val jobSum = jobIntervals(fJobs).map { case (s, e) => e - s }.sum
        Map(
          "profile.driver_only_s" -> (spanMs - busy) / 1000.0,
          "profile.job_overlap" -> jobSum / spanMs)
      }.getOrElse(Map.empty)
      base ++ focusFigures
    }

  /** Write every span, job and query as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val kids = spans.groupBy(_.parent)
    val sb = new StringBuilder
    spans.foreach { s =>
      val childIv = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq
      val selfS = (s.endMs - s.startMs - covered(s.startMs, s.endMs, childIv)) / 1000
      sb ++= s"""{"kind":"span","run":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_s":${s.durS},"self_s":$selfS}""" + "\n"
    }
    jobs.values.foreach { j =>
      sb ++= s"""{"kind":"job","run":"$runId","job":${j.id},"span":${jobSpan(j)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stagesRun},""" +
        s""""tasks":${j.tasks},"exec_cpu_s":${j.cpuNs / 1e9},"exec_run_s":${j.runMs / 1000.0},""" +
        s""""shuffle_write_b":${j.shWrite},"shuffle_read_b":${j.shRead},""" +
        s""""result_b":${j.result}}""" + "\n"
    }
    queries.foreach { q =>
      sb ++= s"""{"kind":"query","run":"$runId","span":${innermostAt(q.atMs.toDouble)},""" +
        s""""at_ms":${q.atMs},"plan_s":${q.planMs / 1000.0},"ok":${q.ok}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  private final class JobRec(val id: Int, val tag: Int, val startMs: Long) {
    var endMs: Long = -1L
    var stagesRun = 0
    var tasks, cpuNs, runMs, gcMs, shWrite, shRead, fetchWaitMs, spill,
      result = 0L
  }
  private final case class QueryRec(atMs: Long, planMs: Long, ok: Boolean)
}
