package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters and spans of the traced run.
  *
  * Spans are opened only from the harness's own code (run, setup, op,
  * and the calls into the engine inside an op); job and stream-batch
  * spans are derived from listener events. Every job the op starts
  * carries the op's id and the enclosing span's id as local
  * properties, which streams and child threads inherit, so a job
  * started inside `QueryDef.build` is charged to the op and to its
  * build span. Events without the property fall back to the op that
  * was running when they were delivered; the harness drains the
  * listener bus at the end of every traced op, so that fallback is
  * exact in a closed loop.
  *
  * Everything stays in memory until the run ends.
  */
object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  @volatile var enabled = false
  @volatile private var currentOp = -1
  @volatile private var currentOpSpan = 0L

  final case class Span(id: Long, parent: Long, name: String, op: Int,
                        startMs: Double, endMs: Double)

  /** Per-op counters; written only from the listener-bus thread and
    * read after the bus is drained. */
  final class Counters {
    var jobs, buildJobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, gcMs, peakMem = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var inputBytes, inputRows, outputBytes, outputRows = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var actions = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var batches = 0L
    var triggerMs, addBatchMs, batchPlanningMs, walCommitMs = 0L
    var stateRows, stateMem, stateCommitMs = 0L
  }

  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobInfo = mutable.HashMap.empty[Int, (Int, Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1L

  // one time base for harness spans (nanoTime) and listener events (wall ms)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def countersOf(op: Int): Counters = synchronized {
    counters.getOrElseUpdate(op, new Counters)
  }

  private def newSpanId(): Long = synchronized { nextSpan += 1; nextSpan - 1 }

  private def addSpan(s: Span): Unit = synchronized { spans += s }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  /** Run `body` as a span under `parent`; jobs it starts name it as
    * their parent. Returns the span's id with the body's value. */
  def span[T](name: String, parent: Long, op: Int = -1)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = newSpanId()
    val sc = Drain.active
    val prev = sc.map(_.getLocalProperty(SpanProp))
    sc.foreach(_.setLocalProperty(SpanProp, id.toString))
    val t0 = nowMs
    try body(id)
    finally {
      addSpan(Span(id, parent, name, op, t0, nowMs))
      sc.foreach(_.setLocalProperty(SpanProp, prev.orNull))
    }
  }

  /** Mark `op` as running: later jobs on this thread (and threads it
    * starts) carry its id. */
  def beginOp(op: Int, opSpan: Long): Unit = {
    currentOp = op
    currentOpSpan = opSpan
    Drain.active
      .foreach(_.setLocalProperty(OpProp, op.toString))
  }

  def endOp(): Unit = {
    Drain.active.foreach { sc =>
      if (enabled) Drain(sc)
      sc.setLocalProperty(OpProp, null)
    }
    currentOp = -1
    currentOpSpan = 0L
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProp)))
      .map(_.toInt).getOrElse(currentOp)

  private[perfbench] def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(currentOpSpan)
    jobInfo(e.jobId) = (op, parent, e.time)
    val c = countersOf(op)
    c.jobs += 1
    if (buildSpans.contains(parent)) c.buildJobs += 1
  }

  // a span is added to `spans` only when it closes, so build spans are
  // registered when they open: jobs started inside one count as build jobs
  private val buildSpans = mutable.HashSet.empty[Long]
  def buildSpan[T](parent: Long, op: Int)(body: => T): T =
    span("queries.build", parent, op) { id =>
      synchronized { buildSpans += id }
      body
    }

  private[perfbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (op, parent, start) =>
      spans += Span(newSpanId(), parent, "spark.job", op, start.toDouble, e.time.toDouble)
    }
  }

  private[perfbench] def stageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    stageOp(e.stageInfo.stageId) = op
    countersOf(op).stages += 1
  }

  private[perfbench] def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countersOf(stageOp.getOrElse(e.stageId, currentOp))
    c.tasks += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.spill += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  private[perfbench] def action(qe: QueryExecution): Unit = synchronized {
    val c = countersOf(currentOp)
    c.actions += 1
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
  }

  private[perfbench] def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      val c = countersOf(currentOp)
      c.batches += 1
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.triggerMs += d("triggerExecution")
      c.addBatchMs += d("addBatch")
      c.batchPlanningMs += d("queryPlanning")
      c.walCommitMs += d("walCommit")
      val ops = p.stateOperators
      c.stateRows = math.max(c.stateRows, ops.map(_.numRowsTotal).sum)
      c.stateMem = math.max(c.stateMem, ops.map(_.memoryUsedBytes).sum)
      c.stateCommitMs += ops.map(_.commitTimeMs).sum
      val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        .getOrElse(nowMs)
      spans += Span(newSpanId(), currentOpSpan, "streaming.batch", currentOp,
        start, start + d("triggerExecution"))
    }
}

/** Registered through `spark.extraListeners` in the traced run. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.stageSubmitted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(e)
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session — including the streams' cloned sessions — reports. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.action(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.action(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.progress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
