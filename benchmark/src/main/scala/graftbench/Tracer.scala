package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Scheduler and executor counters of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs, delayMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, fetchWaitMs, spillBytes = 0L

  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs; delayMs += o.delayMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    this
  }
}

/** Attributes job, stage and task events to the job group they ran
  * under (`SparkContext.setJobGroup`), so each operation's counters are
  * keyed by its name rather than by a time window. Events arrive on the
  * listener-bus thread; readers call [[Tracer.drain]] first. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      counters(group).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = group)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val info = e.taskInfo
        if (info != null && info.finished) {
          c.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        }
      }
    }
  }

  /** Sum of every group whose name starts with `prefix`. */
  def sum(prefix: String): Counters = synchronized {
    val out = new Counters
    byGroup.foreach { case (g, c) => if (g.startsWith(prefix)) out += c }
    out
  }
}

/** One span: a workload pass, an operation, or one of its phases. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and job-group attribution for a traced run. Spans stay in
  * memory and are written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def newId(): Int = { nextId += 1; nextId }

  def record(id: Int, parent: Int, name: String, t0: Long, t1: Long): Unit =
    spans += Span(id, parent, name, t0, t1)

  /** Deterministic drain: returns once every event posted so far has
    * reached the listener. */
  def drain(): Unit = BusDrain.drain(spark.sparkContext)

  /** Self time of each span: its duration minus the part covered by its
    * children (children of one parent never overlap: one client thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

/** Per-node SQL metrics of an executed plan, looking through adaptive
  * execution's final plan and its query stages. */
object PlanMetrics {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}
