package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `kind` is "bench" for a call the benchmark made
  * into a layer, "job"/"stage" for Spark's own scheduling units. Spans of
  * one pass share `pass`; `parent` is the enclosing span (0 = none). */
final case class SpanRec(id: Long, parent: Long, pass: Int, kind: String, name: String,
                         startNs: Long, endNs: Long)

/** A count taken at a span boundary (candidates, hits, jobs, ...). */
final case class CountRec(span: Long, pass: Int, name: String, value: Double)

/** Spans and counts, kept in memory and written out when the run ends.
  * Disabled, `span` is a plain call: the untraced run pays nothing. */
final class Tracer(sc: () => SparkContext) {
  @volatile var enabled = false
  private val spans = ArrayBuffer[SpanRec]()
  private val counts = ArrayBuffer[CountRec]()
  private var stack = List.empty[Long]
  private var nextId = 1L
  @volatile var pass = 0
  /** epoch ns - nanoTime, to place listener timestamps (epoch ms) on the
    * same clock as the benchmark's own spans. */
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc().setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc().setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
      synchronized { spans += SpanRec(id, parent, pass, "bench", name, t0, t1) }
    }
  }

  def count(name: String, v: Double): Unit = if (enabled) synchronized {
    counts += CountRec(stack.headOption.getOrElse(0L), pass, name, v)
  }

  def addSpan(id: Long, parent: Long, kind: String, name: String, startNs: Long, endNs: Long): Unit =
    synchronized { spans += SpanRec(id, parent, pass, kind, name, startNs, endNs) }

  def allSpans: Seq[SpanRec] = synchronized(spans.toList)
  def allCounts: Seq[CountRec] = synchronized(counts.toList)

  /** Durations (s) of the bench spans called `name`, one per occurrence. */
  def durations(name: String): Seq[Double] =
    allSpans.filter(s => s.kind == "bench" && s.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes: Map[Long, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  def toJson: String = {
    val self = selfTimes
    val sp = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Json.num(self(s.id))}}"""
    }
    val cs = allCounts.map(c =>
      s"""{"span":${c.span},"pass":${c.pass},"name":${Json.str(c.name)},"value":${Json.num(c.value)}}""")
    sp.mkString("{\"spans\":[", ",\n", "],\n") + cs.mkString("\"counts\":[", ",\n", "]}\n")
  }
}

object Tracer { val SpanProp = "perfbench.span" }

/** Task-level figures of one pass, from the scheduler's listener events. */
final case class PassStats(jobs: Int, tasks: Int, taskMs: Seq[Double], cpuNs: Long,
                           peakMem: Long, shuffleWrite: Long, shuffleRead: Long,
                           spill: Long, failures: Int)

/** Collects task metrics per pass (always on: peak memory and failures are
  * end-to-end figures) and, when tracing, job and stage spans. */
final class RunListener(tr: Tracer) extends SparkListener {
  private var jobs = 0; private var failures = 0
  private val taskMs = ArrayBuffer[Double]()
  private var cpuNs = 0L; private var peak = 0L
  private var shW = 0L; private var shR = 0L; private var spill = 0L
  /** job id -> (span id, parent span, start ns) */
  private val jobSpan = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
  /** stage id -> span id of its job */
  private val stageJob = scala.collection.mutable.Map[Int, Long]()

  private def ns(epochMs: Long): Long = epochMs * 1000000L - tr.epochOffsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (tr.enabled) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val id = tr.newId()
      jobSpan(e.jobId) = (id, parent, ns(e.time))
      e.stageIds.foreach(s => stageJob(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (tr.enabled) jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
      tr.addSpan(id, parent, "job", s"job ${e.jobId}", t0, ns(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (tr.enabled) {
      val si = e.stageInfo
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        tr.addSpan(tr.newId(), stageJob.getOrElse(si.stageId, 0L), "stage",
          s"stage ${si.stageId} ${si.name.takeWhile(_ != ' ')}", ns(t0), ns(t1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failures += 1
    val m = e.taskMetrics
    if (e.taskInfo != null) taskMs += e.taskInfo.duration.toDouble
    if (m != null) {
      cpuNs += m.executorCpuTime
      peak = math.max(peak, m.peakExecutionMemory)
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  /** Figures since the last call; drains the bus first. */
  def take(sc: SparkContext): PassStats = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val s = PassStats(jobs, taskMs.size, taskMs.toList, cpuNs, peak, shW, shR, spill, failures)
      jobs = 0; failures = 0; taskMs.clear(); cpuNs = 0; peak = 0; shW = 0; shR = 0; spill = 0
      s
    }
  }
}

/** Planner figures per executed query, from Spark's own QueryPlanningTracker
  * and the executed physical plan. Registered for traced passes only. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Q(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                     ruleMs: Double, interpreted: Int, broadcastBytes: Long)
  private val qs = ArrayBuffer[Q]()

  private def phase(qe: QueryExecution, p: String): Double =
    qe.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan: SparkPlan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val interp = nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum
    val bcast = nodes.collect { case b: BroadcastExchangeExec =>
      b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum
    val rule = qe.tracker.rules.get(PlanListener.CellJoinRuleName).map(_.totalTimeNs / 1e6).getOrElse(0.0)
    val q = Q(phase(qe, "analysis"), phase(qe, "optimization"), phase(qe, "planning"), rule, interp, bcast)
    synchronized { qs += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): Seq[Q] = synchronized { val r = qs.toList; qs.clear(); r }
}

object PlanListener {
  val CellJoinRuleName: String = graft.plans.CellJoinRule.ruleName
}

/** Machine-wide load from /proc/stat, beside each run: busy cores that are
  * not this JVM's, and iowait+steal cores (stalls that use no guest CPU).
  * Reported, never used to drop a run. */
object HostLoad {
  final case class Snap(busyJiffies: Long, stallJiffies: Long, ownCpuNs: Long, wallNs: Long)

  def snap(): Snap = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    val iowait = if (f.length > 4) f(4) else 0L
    val steal = if (f.length > 7) f(7) else 0L
    // user..steal only: guest time is already inside user/nice
    val busy = f.take(8).sum - f(3) - iowait
    val own = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    Snap(busy, iowait + steal, own, System.nanoTime())
  }

  /** (external busy cores, iowait+steal cores) between two snapshots;
    * USER_HZ is 100 on Linux. */
  def between(a: Snap, b: Snap): (Double, Double) = {
    val wall = math.max(1e-9, (b.wallNs - a.wallNs) / 1e9)
    val ext = math.max(0.0, ((b.busyJiffies - a.busyJiffies) / 100.0 - (b.ownCpuNs - a.ownCpuNs) / 1e9) / wall)
    (ext, (b.stallJiffies - a.stallJiffies) / 100.0 / wall)
  }
}

/** JVM-wide GC time, for the per-pass spark.gc_ms figure (local mode runs
  * every task in this JVM). */
object Gc {
  def ms(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
