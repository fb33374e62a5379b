package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span. Times are epoch milliseconds (Spark's listener
  * events carry wall-clock ms, so the benchmark's own spans use the
  * same clock). `trace` is the query name or the (cycle, dataset)
  * pair; an instant has `end == start`. */
final case class Span(id: Long, name: String, kind: String, start: Double,
    end: Double, parent: Long, trace: String) {
  def json: String = Json(Map("id" -> id, "name" -> name, "kind" -> kind,
    "start_ms" -> start, "end_ms" -> end, "parent" -> parent, "trace" -> trace))
}

/** Spans and per-layer counters recorded from outside the engine: a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (planning phases, executions, shuffle exchanges in the final plans)
  * and Spark's codegen counters. The benchmark opens its own spans
  * around its calls into graft and tags every Spark job with a
  * job-group local property `<span id>` so jobs attach to the span
  * that was open when they started. Only attached in traced runs. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val GroupKey = "graftbench.span"

  def now(): Double = System.currentTimeMillis().toDouble

  // ---- benchmark-side spans -------------------------------------------
  private val openSpans = new java.util.concurrent.ConcurrentHashMap[Long, (String, String, Double, Long, String)]()
  private val spanTrace = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def open(name: String, kind: String, parent: Long, trace: String): Long = {
    val id = nextId.getAndIncrement()
    openSpans.put(id, (name, kind, now(), parent, trace))
    spanTrace.put(id, trace)
    sc.setLocalProperty(GroupKey, id.toString)
    id
  }

  def close(id: Long): Unit = Option(openSpans.remove(id)).foreach {
    case (name, kind, start, parent, trace) =>
      spans.add(Span(id, name, kind, start, now(), parent, trace))
      sc.setLocalProperty(GroupKey, if (parent > 0) parent.toString else null)
  }

  def instant(name: String, kind: String, parent: Long, trace: String): Unit = {
    val t = now()
    spans.add(Span(nextId.getAndIncrement(), name, kind, t, t, parent, trace))
  }

  // ---- listener-side counters -----------------------------------------
  /** Per-span counters (keyed by the span that owned the job). */
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var jobWallMs = 0.0
    var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shWrite = 0.0; var shRead = 0.0; var fetchWaitMs = 0.0; var spill = 0.0
    var inBytes = 0.0; var inRows = 0.0; var outBytes = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  }
  val byOwner = mutable.Map.empty[Long, Counters]
  private val jobOwner = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageOwner = mutable.Map.empty[Int, (Long, Long)] // stage -> (owner, job span)
  private val jobSpanId = mutable.Map.empty[Int, Long]
  private val jobTrace = mutable.Map.empty[Int, String]
  private val stageTrace = mutable.Map.empty[Int, String]

  private def counters(owner: Long) = byOwner.getOrElseUpdate(owner, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .map(_.toLong).getOrElse(0L)
    val sid = nextId.getAndIncrement()
    jobOwner(e.jobId) = owner
    jobStart(e.jobId) = e.time.toDouble
    jobSpanId(e.jobId) = sid
    jobTrace(e.jobId) = Option(spanTrace.get(owner)).getOrElse("")
    e.stageIds.foreach { s => stageOwner(s) = (owner, sid); stageTrace(s) = jobTrace(e.jobId) }
    counters(owner).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val owner = jobOwner.getOrElse(e.jobId, 0L)
    val start = jobStart.getOrElse(e.jobId, e.time.toDouble)
    val c = counters(owner)
    c.jobWallMs += e.time - start
    c.jobIntervals += ((start, e.time.toDouble))
    spans.add(Span(jobSpanId.getOrElse(e.jobId, 0L), s"job ${e.jobId}", "job",
      start, e.time.toDouble, owner, jobTrace.getOrElse(e.jobId, "")))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (owner, jobSpan) =>
      counters(owner).stages += 1
      spans.add(Span(nextId.getAndIncrement(), s"stage ${info.stageId}", "stage",
        info.submissionTime.map(_.toDouble).getOrElse(0.0),
        info.completionTime.map(_.toDouble).getOrElse(0.0), jobSpan,
        stageTrace.getOrElse(info.stageId, "")))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val owner = stageOwner.get(e.stageId).map(_._1).getOrElse(0L)
    val c = counters(owner)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shWrite += m.shuffleWriteMetrics.bytesWritten
      c.shRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Planner phases and final-plan shape of one QueryExecution. */
  final case class Planned(phases: Seq[(String, Double, Double)], exchanges: Int, files: Long) {
    def start: Double = phases.map(_._2).minOption.getOrElse(0.0)
    private def ms(p: String) = phases.filter(_._1 == p).map(x => x._3 - x._2).sum
    def analysisMs: Double = ms("analysis")
    def optimizationMs: Double = ms("optimization")
    def planningMs: Double = ms("planning")
  }
  val executions = new ConcurrentLinkedQueue[Planned]()
  private object Helper extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, s) =>
      (n, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
    val plan = qe.executedPlan
    val exchanges = Helper.collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
    // files a v1 write committed (the numFiles SQL metric of the write node)
    val files = Helper.collectWithSubqueries(plan) { case p => p }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    executions.add(Planned(phases, exchanges, files))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try record(qe) catch { case scala.util.control.NonFatal(_) => () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    try record(qe) catch { case scala.util.control.NonFatal(_) => () }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    sc.setLocalProperty(GroupKey, null)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Counters summed over every span id in `owners`. */
  def sum(owners: Iterable[Long])(f: Counters => Double): Double = synchronized {
    owners.iterator.flatMap(byOwner.get).map(f).sum
  }

  /** Time inside `[from, to]` covered by no job of the given owners. */
  def uncoveredMs(owners: Iterable[Long], from: Double, to: Double): Double = synchronized {
    val iv = owners.iterator.flatMap(byOwner.get).flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (to - from) - covered)
  }

  /** Planner records whose analysis started inside `[from, to]`. */
  def plannedIn(from: Double, to: Double): Seq[Planned] =
    executions.asScala.filter(p => p.start >= from && p.start <= to).toSeq

  /** Write every span, one JSON object per line. Planner phases become
    * spans under the innermost query or dataset span that contains
    * their start (the listener reports them without a job group). */
  def writeSpans(path: String): Unit = {
    val all = spans.asScala.toSeq
    val hosts = all.filter(s => s.kind == "query" || s.kind == "dataset")
    val phases = executions.asScala.toSeq.flatMap { p =>
      val host = hosts.filter(h => h.start <= p.start && p.start <= h.end).sortBy(h => h.end - h.start)
        .headOption
      p.phases.map { case (n, a, b) =>
        Span(nextId.getAndIncrement(), n, "planner", a, b, host.map(_.id).getOrElse(0L),
          host.map(_.trace).getOrElse(""))
      }
    }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try (all ++ phases).sortBy(s => (s.start, s.id)).foreach(s => out.println(s.json))
    finally out.close()
  }
}

/** Codegen counters from Spark's codegen metrics source: total compile
  * time (ns) and the number of compiles, both process-wide. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  def snapshot(): (Double, Long) =
    (CodeGenerator.compileTime.toDouble / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
