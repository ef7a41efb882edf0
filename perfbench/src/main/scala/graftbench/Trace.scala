package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded span: a call into a layer, opened by the harness
  * around a public graft call. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single client thread. Spans are
  * kept until the run ends; `op` wraps one timed operation and
  * `span` one layer call inside it. With `on = false` both are plain
  * calls. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var nextId = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on || currentOp < 0) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, layer, name, t0, System.nanoTime)
      }
    }

  /** Run `body` as operation `opId`, traced when this tracer is on and
    * `traced` holds. */
  def op[T](opId: Int, kind: String, traced: Boolean)(body: => T): T =
    if (!(on && traced)) body
    else {
      currentOp = opId
      try span("op", kind)(body)
      finally currentOp = -1
    }

  def of(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq
}

/** Per-job engine counters, gathered by a SparkListener. Times of job
  * start/end are the listener events' wall-clock milliseconds. */
final class JobStats(val jobId: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  var cachedMax = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobStats(e.jobId, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); if m != null) {
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.taskCpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedNow += size - cached.getOrElse(key, 0L)
      if (size == 0L) cached.remove(key) else cached(key) = size
      cachedMax = math.max(cachedMax, cachedNow)
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def startedIn(fromMs: Double, toMs: Double): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

/** Per-micro-batch durations from the streaming progress events. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.LinkedHashMap.empty[Long, Long] // batch id -> trigger ms
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        batches(p.batchId) =
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      }
    }
}

/** Wall-clock anchor mapping System.nanoTime onto epoch milliseconds,
  * so spans and listener job times share one axis. */
object Clock {
  private val epochAtNano0 = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def epochMs(nano: Long): Double = epochAtNano0 + nano / 1e6
}
