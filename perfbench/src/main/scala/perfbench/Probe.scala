package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Scheduler and executor counters summed over a window of calls. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskTimeMs: Long = 0, taskWaitMs: Long = 0,
    inputRows: Long = 0, inputBytes: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskTimeMs - o.taskTimeMs, taskWaitMs - o.taskWaitMs,
    inputRows - o.inputRows, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskTimeMs + o.taskTimeMs, taskWaitMs + o.taskWaitMs,
    inputRows + o.inputRows, inputBytes + o.inputBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes)
}

/**
 * A `SparkListener` the benchmark registers from outside the engine in
 * traced runs. Task wait is task launch minus its stage's submission.
 */
final class Probe extends SparkListener {
  private var c = Counters()
  private val stageSubmitted = scala.collection.mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val wait = stageSubmitted.get(e.stageId)
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    c = if (m == null) c.copy(tasks = c.tasks + 1, taskWaitMs = c.taskWaitMs + wait)
    else c + Counters(
      tasks = 1, taskTimeMs = m.executorRunTime, taskWaitMs = wait,
      inputRows = m.inputMetrics.recordsRead, inputBytes = m.inputMetrics.bytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      spillBytes = m.diskBytesSpilled)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(spark: SparkSession): Counters = {
    BenchBus.drain(spark.sparkContext)
    synchronized(c)
  }
}
