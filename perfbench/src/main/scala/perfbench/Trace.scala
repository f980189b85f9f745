package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call: `op` is the workload operation it belongs to (-1 for
  * set-up), `parent` the enclosing span's id (-1 at the top). Times are
  * `System.nanoTime`; `cpuNs` is the CPU time all of the JVM's threads used
  * meanwhile, which unlike wall time does not grow when the host takes
  * CPU away from this machine. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long,
                      cpuNs: Long) {
  def seconds: Double = (end - start) / 1e9
  def cpuSeconds: Double = cpuNs / 1e9
}

/** Work Spark reports for one span: job intervals (nanoTime scale), task
  * counters summed over the span's jobs, and plan shapes of the SQL
  * executions it ran. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var scanRows, scanBytes, files = 0L
  var exchanges, smj, bhj = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans recorded around every public graft call the benchmark makes, kept
  * in memory. With `listen` the tracer also registers a SparkListener and a
  * QueryExecutionListener and attributes their counters to the innermost
  * open span through Spark local properties, which jobs inherit. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, Long)] = Nil
  private var nextId = 0
  var op: Int = -1

  private val wallAnchorMs = System.currentTimeMillis()
  private val nanoAnchor = System.nanoTime()
  private def nanoOf(ms: Long): Long = nanoAnchor + (ms - wallAnchorMs) * 1000000L

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, System.nanoTime(), Tracer.processCpuNs()) :: stack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      val (_, start, cpu) = stack.head
      val end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._1.toString).orNull)
      spans += Span(id, name, parent, op, start, end, Tracer.processCpuNs() - cpu)
    }
  }

  // ---- listeners. All mutation happens on the listener bus thread; the
  // maps are read only after drain().
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  // The QueryExecutionListener runs on the same listener-bus queue, after
  // the job events of its execution: the latest SQL job's span is its span.
  private var lastSqlSpan = -1
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Int, Counters]
  private def at(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).foreach { s =>
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
        if (props.exists(_.getProperty("spark.sql.execution.id") != null)) lastSqlSpan = s
        at(s).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.get(e.jobId).foreach { s =>
        at(s).jobIntervals += ((nanoOf(jobStartMs(e.jobId)), nanoOf(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(s => at(s).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = at(s)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanRows += m.inputMetrics.recordsRead
        c.scanBytes += m.inputMetrics.bytesRead
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (lastSqlSpan >= 0) {
        val (ex, smj, bhj, files) = Tracer.planShape(qe.executedPlan)
        val c = at(lastSqlSpan)
        c.exchanges += ex; c.smj += smj; c.bhj += bhj; c.files += files
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var listening = false
  def listen(on: Boolean): Unit = if (on != listening) {
    drain()
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
    } else {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
    listening = on
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Counters of `span` and of every span nested in it (the tracer is
    * single-threaded, so nested in time means nested in the call tree). */
  def total(span: Span): Counters = {
    val out = new Counters
    spans.filter(s => s.start >= span.start && s.end <= span.end).flatMap(s => bySpan.get(s.id))
      .foreach { c =>
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.cpuNs += c.cpuNs; out.runMs += c.runMs; out.gcMs += c.gcMs
        out.shuffleWrite += c.shuffleWrite; out.shuffleRead += c.shuffleRead
        out.spill += c.spill; out.scanRows += c.scanRows; out.scanBytes += c.scanBytes
        out.files += c.files; out.exchanges += c.exchanges; out.smj += c.smj; out.bhj += c.bhj
        out.jobIntervals ++= c.jobIntervals
      }
    out
  }

  /** Wall time of `span` during which none of its jobs ran. */
  def schedGapSeconds(span: Span): Double = {
    val iv = total(span).jobIntervals
      .map { case (a, b) => (math.max(a, span.start), math.min(b, span.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, span.end - span.start - covered) / 1e9
  }

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(span: Span): Double =
    span.seconds - spans.filter(_.parent == span.id).map(_.seconds).sum
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime

  private object Plans extends AdaptiveSparkPlanHelper

  /** (exchanges, sort-merge joins, broadcast hash joins, files read) of a
    * finished query's final adaptive plan. */
  def planShape(plan: SparkPlan): (Long, Long, Long, Long) = {
    def count(pf: PartialFunction[SparkPlan, Long]) = Plans.collectWithSubqueries(plan)(pf).sum
    (count { case _: ShuffleExchangeLike => 1L },
      count { case _: SortMergeJoinExec => 1L },
      count { case _: BroadcastHashJoinExec => 1L },
      count { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) })
  }
}
