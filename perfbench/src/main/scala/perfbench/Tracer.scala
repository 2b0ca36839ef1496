package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span. Written by the listener thread,
  * read after a drain. */
final class SpanCounts {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var taskCpuMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L
  /** analysis + optimization + planning of the query executions that
    * finished inside the span */
  @volatile var planMs = 0L
  /** files the span's scans read, from the scan nodes' metrics */
  @volatile var filesRead = 0L
}

final case class Span(id: Int, name: String, op: Int, parent: Int, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory spans around the benchmark's calls into the program.
  *
  * Each span sets the local property [[Tracer.SpanKey]] on the calling
  * thread while it is open, so every job Spark submits for it — from
  * this thread or from a thread that captured its properties — carries
  * the innermost open span's id. The listener side of this class maps
  * jobs and stages to spans through that property and sums task metrics
  * per span. Query executions carry no local properties, so they are
  * attributed by draining the listener bus whenever a span opens or
  * closes: an execution delivered by then belongs to the span that was
  * innermost since the previous drain.
  * Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer.SpanKey

  private val sc: SparkContext = spark.sparkContext
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil // ids, innermost first
  private var nextId = 0
  private val counts = new ConcurrentHashMap[Int, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def spans: Seq[Span] = done.toSeq
  def lastSpan: Span = done.last
  def countsOf(id: Int): SpanCounts = counts.computeIfAbsent(id, _ => new SpanCounts)

  /** Runs `body` inside a span named `name` for op `op`. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val outer = sc.getLocalProperty(SpanKey)
    claimPending(parent)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      sc.setLocalProperty(SpanKey, outer)
      open = open.tail
      done += Span(id, name, op, parent, start, end)
      claimPending(id)
    }
  }

  /** Delivers every posted event and gives the query executions that
    * finished since the last claim to span `id` (dropped for -1, no
    * span). */
  private def claimPending(id: Int): Unit = {
    ListenerBusAccess.drain(sc)
    var qe = pendingQe.poll()
    while (qe != null) {
      if (id >= 0) {
        countsOf(id).planMs += qe._1
        countsOf(id).filesRead += qe._2
      }
      qe = pendingQe.poll()
    }
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => countsOf(s).jobs += 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      countsOf(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val c = countsOf(s.intValue)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1000000L
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val files = Tracer.ScanFiles.count(qe)
    pendingQe.add((planMs, files))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"

  private object ScanFiles extends AdaptiveSparkPlanHelper {
    def count(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
  }
}
