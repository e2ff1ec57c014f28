package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark runtime counters for one pass, filled by [[TaskListener]]. */
final class PassCounters {
  var jobs = 0
  var tasks = 0
  var emptyTasks = 0
  var failedTasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** task run times (ms) per stage, for the skew of the heaviest stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def skew: Double = {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum)
      val sorted = heaviest.sorted
      val median = sorted(sorted.size / 2).toDouble
      if (median <= 0) 1.0 else sorted.last / median
    }
  }
}

/** Job and task counters, attached only during traced passes. */
final class TaskListener extends SparkListener {
  @volatile var current = new PassCounters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
      if (records == 0) c.emptyTasks += 1
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def take(): PassCounters = synchronized {
    val c = current
    current = new PassCounters
    c
  }
}

/** Micro-batch counts and busy time of the streams a pass runs. */
final class StreamListener extends StreamingQueryListener {
  var batches = 0
  var triggerMs = 0L
  var commitMs = 0L
  var stateCommitMs = 0L
  /** seconds from each query's start event to its first progress */
  val firstProgressS = mutable.ArrayBuffer.empty[Double]
  private val started = mutable.Map.empty[java.util.UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { started(e.id) = System.nanoTime() }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      batches += 1
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      triggerMs += d("triggerExecution")
      commitMs += d("walCommit") + d("commitOffsets")
      stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      started.remove(p.id).foreach(t0 => firstProgressS += (System.nanoTime() - t0) / 1e9)
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { started.remove(e.id) }

  def take(): Map[String, Double] = synchronized {
    val out = Map(
      "stream.batches" -> batches.toDouble,
      "stream.trigger_ms" -> triggerMs.toDouble,
      "stream.commit_ms" -> commitMs.toDouble,
      "stream.state_commit_ms" -> stateCommitMs.toDouble,
      "stream.first_progress_s" -> firstProgressS.sum)
    batches = 0; triggerMs = 0; commitMs = 0; stateCommitMs = 0
    firstProgressS.clear()
    out
  }
}
