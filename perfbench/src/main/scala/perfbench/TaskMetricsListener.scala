package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed over the tasks of one job group. Times in ns/ms as
  * Spark reports them; `waitMs` is task duration minus executorRunTime
  * (scheduling, deserialization and result fetch).
  */
final case class TaskTotals(
    cpuNs: Long = 0L,
    runMs: Long = 0L,
    waitMs: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    shuffleWriteRecords: Long = 0L,
    shuffleReadBytes: Long = 0L,
    shuffleReadRecords: Long = 0L,
    spillBytes: Long = 0L,
    inputRecords: Long = 0L,
    outputBytes: Long = 0L,
    tasks: Long = 0L) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(
    cpuNs + o.cpuNs, runMs + o.runMs, waitMs + o.waitMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRecords + o.shuffleWriteRecords,
    shuffleReadBytes + o.shuffleReadBytes, shuffleReadRecords + o.shuffleReadRecords,
    spillBytes + o.spillBytes, inputRecords + o.inputRecords,
    outputBytes + o.outputBytes, tasks + o.tasks)
}

/** Sums the task metrics of every finished task per job group. The harness
  * sets the job group around each timed call and reads the group's totals
  * after draining the listener bus ([[org.apache.spark.PerfbenchBus]]).
  */
final class TaskMetricsListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = scala.collection.mutable.Map.empty[String, TaskTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val group = stageGroup.getOrDefault(e.stageId, "")
    if (m != null && group.nonEmpty) {
      val t = TaskTotals(
        cpuNs = m.executorCpuTime,
        runMs = m.executorRunTime,
        waitMs = math.max(0L, e.taskInfo.duration - m.executorRunTime),
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
        spillBytes = m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten,
        tasks = 1L)
      synchronized { totals(group) = totals.getOrElse(group, TaskTotals()) + t }
    }
  }

  /** Removes and returns the totals of `group`. */
  def take(group: String): TaskTotals =
    synchronized { totals.remove(group).getOrElse(TaskTotals()) }
}
