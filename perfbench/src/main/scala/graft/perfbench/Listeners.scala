package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark runtime counters read from the listener bus: jobs, stages,
  * tasks, task run time, shuffle bytes, input records, and scheduling
  * delay (stage wall time minus its longest task).
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong
  val schedDelayMs = new AtomicLong
  private val longestTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
    longestTask.merge((e.stageId, e.stageAttemptId), e.taskInfo.duration,
      (a, b) => math.max(a, b))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    val longest = Option(longestTask.remove((i.stageId, i.attemptNumber())))
      .map(_.longValue).getOrElse(0L)
    for (s <- i.submissionTime; c <- i.completionTime)
      schedDelayMs.addAndGet(math.max(0L, c - s - longest))
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "records_read" -> recordsRead.get, "sched_delay_ms" -> schedDelayMs.get)
}

/** Micro-batch progress of the streaming queries. */
final class StreamCounters extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val inputRows = new AtomicLong
  val processedMs = new AtomicLong
  @volatile var stateRows = 0L
  @volatile var stateBytes = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      triggers.add(trig.toDouble)
      inputRows.addAndGet(p.numInputRows)
      processedMs.addAndGet(trig)
    }
    if (p.stateOperators.nonEmpty) {
      stateRows = p.stateOperators.map(_.numRowsTotal).sum
      stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
    }
  }
}
