package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task. Times in ms except `cpuNs`; a task that ended
  * without metrics records zeros. */
final case class TaskRow(
    stageId: Int,
    durationMs: Long,
    runMs: Long,
    cpuNs: Long,
    inputBytes: Long,
    inputRecords: Long,
    shuffleReadBytes: Long,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillBytes: Long)

/** What ran between two [[TaskLog.take]] calls: jobs started, stages
  * completed as (id, first line of the stage name), and one row per
  * task end. */
final case class TaskWindow(jobs: Int, stages: Seq[(Int, String)],
    tasks: Seq[TaskRow]) {
  def sum(f: TaskRow => Long): Long = tasks.iterator.map(f).sum
}

/** The one scheduler listener the tools share. Events accumulate until
  * [[take]], which first drains the listener bus (so every event posted
  * by a finished action has been delivered), then returns and clears
  * what it holds — back-to-back measured runs cannot bleed into each
  * other, and no tool sleeps or polls. */
final class TaskLog private (spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger
  private val stages = new ConcurrentLinkedQueue[(Int, String)]
  private val tasks = new ConcurrentLinkedQueue[TaskRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((e.stageInfo.stageId, e.stageInfo.name.linesIterator.nextOption().getOrElse("")))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val duration = if (e.taskInfo == null) 0L else e.taskInfo.duration
    val m = e.taskMetrics
    tasks.add(
      if (m == null) TaskRow(e.stageId, duration, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRow(e.stageId, duration, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def take(): TaskWindow = {
    BusDrain.drain(spark.sparkContext)
    TaskWindow(jobs.getAndSet(0), drainQueue(stages), drainQueue(tasks))
  }

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toVector
}

object TaskLog {
  /** Register a fresh log on the session's context. */
  def attach(spark: SparkSession): TaskLog = {
    val log = new TaskLog(spark)
    spark.sparkContext.addSparkListener(log)
    log
  }
}
