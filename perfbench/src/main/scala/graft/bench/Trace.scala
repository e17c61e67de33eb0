package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, fed by Spark's public listener API
  * only: a [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for the planning phases of every action, and
  * a [[StreamingQueryListener]] for micro-batch progress.
  *
  * Everything is attributed to the harness span current when the job was
  * submitted (the `graft.bench.span` local property, which Spark copies
  * into each job's properties), kept in memory, and read once at the end.
  * Listener events arrive asynchronously: [[quiesce]] waits for the event
  * count to stop moving instead of reaching into the listener bus.
  */
final class Trace {
  import Trace._

  private val events = new AtomicLong
  // the span the harness thread is in: the fallback for events that carry
  // no local properties (planning phases, streaming progress, and jobs
  // submitted from a streaming query's own thread)
  @volatile private var currentSpan: String = "unattributed"
  def enter(span: String): Unit = currentSpan = span
  private val spans = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobSpan = mutable.HashMap.empty[Int, String]
  // wall-clock intervals during which at least one job ran, per span
  private val running = mutable.HashMap.empty[String, Int]
  private val busySince = mutable.HashMap.empty[String, Long]

  private def counters(span: String): Counters =
    spans.getOrElseUpdate(span, new Counters)

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(currentSpan)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      events.incrementAndGet()
      val span = spanOf(e.properties)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(stageSpan(_) = span)
      counters(span).jobs += 1
      val n = running.getOrElse(span, 0)
      if (n == 0) busySince(span) = e.time
      running(span) = n + 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      events.incrementAndGet()
      jobSpan.remove(e.jobId).foreach { span =>
        val n = running.getOrElse(span, 1) - 1
        running(span) = n
        if (n == 0) busySince.remove(span).foreach { t0 =>
          counters(span).jobBusyMs += math.max(0L, e.time - t0)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        events.incrementAndGet()
        val c = counters(stageSpan.getOrElse(e.stageInfo.stageId, "unattributed"))
        c.stages += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      events.incrementAndGet()
      val c = counters(stageSpan.getOrElse(e.stageId, "unattributed"))
      c.tasks += 1
      c.taskWallMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    // runs on the listener thread, where the harness's local properties are
    // not visible: attributed to the current span, which is why the harness
    // quiesces before it moves on to the next pass
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      events.incrementAndGet()
      counters(currentSpan).planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        events.incrementAndGet()
        val p = e.progress
        val c = counters(currentSpan)
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.batches += 1
        c.streamRows += p.numInputRows
        c.streamPlanMs += ms("queryPlanning")
        c.addBatchMs += ms("addBatch")
        c.walCommitMs += ms("walCommit") + ms("commitOffsets")
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      }
  }

  /** Wait until no listener event has arrived for `QuietMs` (at most
    * `MaxQuiesceMs`): the public-API substitute for draining the listener
    * bus. */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + MaxQuiesceMs
    var last = events.get()
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - stableSince < QuietMs) {
      Thread.sleep(50)
      val now = events.get()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }

  /** Summed counters over the spans whose name satisfies `p`. */
  def total(p: String => Boolean): Counters = synchronized {
    val t = new Counters
    spans.collect { case (k, c) if p(k) => c }.foreach(t.add)
    t
  }
}

object Trace {
  val SpanKey = "graft.bench.span"
  private val QuietMs = 300L
  private val MaxQuiesceMs = 10000L

  final class Counters {
    var jobs, stages, tasks = 0L
    var taskWallMs, taskRunMs, taskCpuNs, jobBusyMs, planMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var peakExecMem = 0L
    var batches, streamRows, streamPlanMs, addBatchMs, walCommitMs, stateCommitMs = 0L

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskWallMs += o.taskWallMs; taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
      jobBusyMs += o.jobBusyMs; planMs += o.planMs
      inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      peakExecMem = math.max(peakExecMem, o.peakExecMem)
      batches += o.batches; streamRows += o.streamRows; streamPlanMs += o.streamPlanMs
      addBatchMs += o.addBatchMs; walCommitMs += o.walCommitMs
      stateCommitMs += o.stateCommitMs
    }
  }
}
