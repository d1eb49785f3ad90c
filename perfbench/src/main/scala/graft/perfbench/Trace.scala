package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall-clock nanoseconds. */
final case class Interval(start: Long, end: Long) {
  def length: Long = math.max(0L, end - start)
  def clip(to: Interval): Interval =
    Interval(math.max(start, to.start), math.min(end, to.end))
}

object Interval {
  /** Total length covered by the union of `xs` (overlaps counted once). */
  def unionLength(xs: Iterable[Interval]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(_.length > 0).toSeq.sortBy(_.start).foreach { iv =>
      if (iv.start > curE) {
        if (curE > curS) total += curE - curS
        curS = iv.start; curE = iv.end
      } else if (iv.end > curE) curE = iv.end
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One span: a unit of work at a layer boundary. `parent` is 0 at the
  * root. Jobs are recorded separately and attached by span id. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long) {
  def interval: Interval = Interval(start, end)
}

/** A Spark job as the listener saw it. `span` is the span that was
  * open on the submitting thread (inherited by pool threads). */
final case class JobRec(jobId: Int, span: Long, start: Long, end: Long, stageIds: Seq[Int]) {
  def interval: Interval = Interval(start, end)
}

/** Per-stage metrics, attributed to the job whose `onJobStart` listed
  * the stage (the first such job: a later job that reuses the stage
  * skips it and runs no tasks for it). */
final case class StageRec(stageId: Int, jobId: Int, tasks: Int, runNs: Long, cpuNs: Long,
                          gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          inputBytes: Long, inputRows: Long)

/** Planning phases and broadcast builds of one Dataset action. */
final case class ActionRec(span: Long, planNs: Long, broadcasts: Int)

/** Span recorder plus the listeners that feed it. Spans are opened and
  * closed on the client thread; the open span's id rides the Spark
  * local property [[Tracer.SpanProp]], which thread pools created
  * inside the span inherit, so their jobs are attributed to it.
  * Everything stays in memory until [[report]]. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  // (analysis start in epoch ms, planning ns, broadcast builds)
  private val actions = new ConcurrentLinkedQueue[(Long, Long, Int)]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stack = mutable.Stack[(Long, String, String, Long)]()
  @volatile private var session: Option[SparkSession] = None
  // listener events carry epoch milliseconds; spans use nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(epochMs: Long): Long = epochMs * 1000000L + epochToNano

  /** Run `body` inside a span named `name` at `layer`. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = if (stack.isEmpty) 0L else stack.top._1
    stack.push((id, name, layer, System.nanoTime()))
    session.foreach(_.sparkContext.setLocalProperty(Tracer.SpanProp, id.toString))
    try body
    finally {
      val (_, _, _, t0) = stack.pop()
      spans.add(Span(id, parent, name, layer, t0, System.nanoTime()))
      session.foreach(_.sparkContext.setLocalProperty(Tracer.SpanProp,
        if (parent == 0L) null else parent.toString))
    }
  }

  /** Spark listener half: job intervals, stage→job mapping, stage metrics. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
      openJobs.put(e.jobId, (sp, toNanos(e.time), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (sp, t0, st) =>
        jobs.add(JobRec(e.jobId, sp, t0, toNanos(e.time), st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(Tracer.stageRec(e.stageInfo, stageToJob.getOrDefault(e.stageInfo.stageId, -1)))
  }

  /** SQL half: planning phases from the query tracker, broadcast builds
    * from the executed plan. Attributed to the span open when the
    * query's analysis started. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val startMs = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    actions.add((startMs, planMs * 1000000L, Tracer.broadcastBuilds(qe)))
  }

  def attach(spark: SparkSession): Unit = {
    session = Some(spark)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.setLocalProperty(Tracer.SpanProp, null)
    session = None
  }

  /** Freeze the recorded spans, jobs and stages. Each action is placed
    * in the innermost span open when its analysis started. */
  def report(): TraceData = {
    val sp = spans.asScala.toVector
    val acts = actions.asScala.toVector.map { case (startMs, planNs, bc) =>
      val t = toNanos(startMs)
      val owner = sp.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)
      ActionRec(owner, planNs, bc)
    }
    TraceData(sp, jobs.asScala.toVector, stages.asScala.toVector, acts)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def stageRec(info: StageInfo, jobId: Int): StageRec = {
    val m = info.taskMetrics
    if (m == null) StageRec(info.stageId, jobId, info.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
    else StageRec(info.stageId, jobId, info.numTasks,
      m.executorRunTime * 1000000L, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Broadcast exchanges built by one action (reused exchanges excluded). */
  def broadcastBuilds(qe: QueryExecution): Int =
    try Plans.collectWithSubqueries(qe.executedPlan) { case b: BroadcastExchangeExec => b }.size
    catch { case scala.util.control.NonFatal(_) => 0 }
}

/** Everything one traced window recorded. */
final case class TraceData(spans: Vector[Span], jobs: Vector[JobRec],
                           stages: Vector[StageRec], actions: Vector[ActionRec]) {
  private lazy val children: Map[Long, Vector[Span]] = spans.groupBy(_.parent)
  private lazy val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** Span ids in the subtree rooted at `id`, itself included. */
  def subtree(id: Long): Set[Long] =
    children.getOrElse(id, Vector.empty).flatMap(c => subtree(c.id)).toSet + id

  def jobsUnder(id: Long): Vector[JobRec] = {
    val ids = subtree(id); jobs.filter(j => ids.contains(j.span))
  }

  /** Wall time of span `id` not covered by its child spans or by the
    * jobs attributed directly to it. */
  def selfNs(id: Long): Long = byId.get(id).fold(0L) { s =>
    val covered = children.getOrElse(id, Vector.empty).map(_.interval) ++
      jobs.filter(_.span == id).map(_.interval)
    s.interval.length - Interval.unionLength(covered.map(_.clip(s.interval)))
  }

  /** Wall time of span `id` during which none of its jobs ran: the
    * driver's share (planning, driver-side fits, scheduling gaps). */
  def driverGapNs(id: Long): Long = byId.get(id).fold(0L) { s =>
    s.interval.length - Interval.unionLength(jobsUnder(id).map(_.interval.clip(s.interval)))
  }

  /** The spans (with self time and job ids), jobs and stages as JSON. */
  def writeJson(file: java.io.File): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    val ss = root.putArray("spans")
    spans.sortBy(_.id).foreach { s =>
      val o = ss.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("layer", s.layer).put("start_ns", s.start).put("end_ns", s.end)
        .put("self_ns", selfNs(s.id))
      val js = o.putArray("jobs"); jobs.filter(_.span == s.id).foreach(j => js.add(j.jobId))
    }
    val js = root.putArray("jobs")
    jobs.sortBy(_.jobId).foreach { j =>
      val o = js.addObject().put("id", j.jobId).put("span", j.span).put("start_ns", j.start)
        .put("end_ns", j.end)
      val st = o.putArray("stages"); j.stageIds.foreach(st.add(_))
    }
    val st = root.putArray("stages")
    stages.sortBy(_.stageId).foreach { x =>
      st.addObject().put("id", x.stageId).put("job", x.jobId).put("tasks", x.tasks)
        .put("run_ns", x.runNs).put("cpu_ns", x.cpuNs).put("shuffle_read", x.shuffleRead)
        .put("shuffle_write", x.shuffleWrite).put("input_bytes", x.inputBytes)
    }
    file.getParentFile.mkdirs()
    m.writerWithDefaultPrettyPrinter().writeValue(file, root)
  }

  def stagesOf(js: Iterable[JobRec]): Vector[StageRec] = {
    val ids = js.map(_.jobId).toSet; stages.filter(st => ids.contains(st.jobId))
  }
}
