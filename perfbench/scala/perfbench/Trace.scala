package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span, filled from listener events. */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var planMs = 0L
  var planRows = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** One timed call into a layer; `rows` is how many rows it returned. */
final case class Span(
    id: Int,
    name: String,
    startMs: Long, // epoch ms, comparable with listener event times
    endMs: Long,
    wallS: Double, // from the monotonic clock
    rows: Long
)

/** Benchmark-owned listeners. Each span sets its id as the Spark job
  * group, so jobs, stages and tasks are attributed exactly; query
  * executions carry no job group, so they go to the span that is open
  * while they arrive — exact because the listener bus is drained before
  * each span closes.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val counts = mutable.HashMap.empty[String, SpanCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var open: String = null

  private def of(group: String): SpanCounts = synchronized(counts.getOrElseUpdate(group, new SpanCounts))

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)

  def begin(group: String): Unit = {
    open = group
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
  }

  /** Close the open span and return its counters. */
  def end(group: String): SpanCounts = {
    spark.sparkContext.clearJobGroup()
    drain()
    open = null
    synchronized(counts.remove(group)).getOrElse(new SpanCounts)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      synchronized {
        e.stageIds.foreach(s => stageGroup(s) = g)
        jobOpen(e.jobId) = (g, e.time)
      }
      val c = of(g)
      c.synchronized(c.jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobOpen.remove(e.jobId)).foreach { case (g, t0) =>
      val c = of(g)
      c.synchronized(c.jobIntervals += ((t0, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.busyMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val g = open
    if (g != null) {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      val rows = outputRows(qe.executedPlan)
      val c = of(g)
      c.synchronized { c.planMs += plan; c.planRows += rows }
    }
  }

  /** Sum of the SQL `numOutputRows` metric over every operator of an
    * executed plan, looking through adaptive wrappers and query stages.
    */
  private def outputRows(p: SparkPlan): Long = {
    val own = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    own + kids.map(outputRows).sum
  }
}

object Tracer {
  /** Span time not covered by any of its jobs, in seconds. */
  def driverGapS(span: Span, c: SpanCounts): Double = {
    val iv = c.jobIntervals
      .map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, span.wallS - covered / 1e3)
  }
}
