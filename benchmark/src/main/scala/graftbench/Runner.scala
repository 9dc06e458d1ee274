package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

/** One measured operation: its kind (a per-layer metric prefix such as
  * `gvcf.genotype`), wall time, and whether its result checked out. */
final case class OpRec(kind: String, ms: Double, ok: Boolean)

/** The closed-loop client: runs one engine operation at a time, times
  * its phases, checks its result, and — on traced passes — attributes
  * scheduler, executor and plan metrics to it by job group.
  *
  * Phases of a DataFrame operation:
  *   - build: the engine call that returns the DataFrame (eager driver
  *     work included);
  *   - plan: analysis, optimization and physical planning, forced by
  *     `queryExecution.executedPlan`;
  *   - exec: the action, on the same `QueryExecution`.
  * A non-DataFrame operation (a write, a compaction) is one exec phase. */
final class Runner(val spark: SparkSession, val tracer: Option[Tracer]) {
  /** True while a traced pass runs (only possible with a tracer). */
  var tracing = false
  /** False during warm-up: operations still run and are checked, but
    * their times are not kept. */
  var recording = false
  var passSpan = 0

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var attempted = 0L
  var failed = 0L

  def add(metric: String, v: Double): Unit = if (tracing) layer(metric) += v

  private val sc = spark.sparkContext

  private def phase[A](opId: Int, name: String)(body: => A): (A, Long, Long) = {
    if (tracing) sc.setJobGroup(s"$opId/$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    if (tracing) tracer.get.record(tracer.get.newId(), opId, name, t0, t1)
    (a, t0, t1)
  }

  private def settle(kind: String, opId: Int, t0: Long, t1: Long, ok: Boolean): Unit = {
    if (tracing) {
      sc.clearJobGroup()
      val tr = tracer.get
      tr.record(opId, passSpan, kind, t0, t1)
      tr.drain()
      val c = tr.listener.sum(s"$opId/")
      add("sched.jobs", c.jobs.toDouble)
      add("sched.stages", c.stages.toDouble)
      add("sched.tasks", c.tasks.toDouble)
      add("sched.delay_ms", c.delayMs.toDouble)
      add("exec.run_ms", c.runMs.toDouble)
      add("exec.cpu_ms", c.cpuMs.toDouble)
      add("exec.gc_ms", c.gcMs.toDouble)
      add("shuffle.write_bytes", c.shuffleWriteBytes.toDouble)
      add("shuffle.write_records", c.shuffleWriteRecords.toDouble)
      add("shuffle.fetch_wait_ms", c.fetchWaitMs.toDouble)
      add("spill.bytes", c.spillBytes.toDouble)
      add("api.eager_jobs", tr.listener.sum(s"$opId/build").jobs.toDouble)
    }
    val ms = (t1 - t0) / 1e6
    add(s"${kind}_ms", ms)
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"CHECK FAILED $kind")
    }
    if (recording) ops += OpRec(kind, ms, ok)
  }

  private def opId(): Int = if (tracing) tracer.get.newId() else 0

  private def guarded[A](kind: String)(body: => A): Option[A] =
    try Some(body) catch {
      case e: Exception =>
        System.err.println(s"OP FAILED $kind: $e")
        None
    }

  /** Run a DataFrame operation. `exec` performs the action on the built
    * DataFrame; `check` judges its result (outside the timed span);
    * `onPlan` reads SQL metrics from the executed plan on traced passes.
    * Returns the result when the operation ran and checked out. */
  def query[A](kind: String)(build: => DataFrame)(exec: DataFrame => A)(
      check: A => Boolean, onPlan: SparkPlan => Unit = _ => ()): Option[A] = {
    val id = opId()
    val t0 = System.nanoTime()
    val out = guarded(kind) {
      val (df, b0, b1) = phase(id, "build")(build)
      val (qe, p0, p1) = phase(id, "plan") { val qe = df.queryExecution; qe.executedPlan; qe }
      val (a, e0, e1) = phase(id, "exec")(exec(df))
      if (tracing) {
        add("api.build_ms", (b1 - b0) / 1e6)
        add("exec.wall_ms", (e1 - e0) / 1e6)
        val phases = qe.tracker.phases
        for (p <- Seq("analysis", "optimization", "planning"))
          add(s"catalyst.${p}_ms",
            phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0))
        onPlan(qe.executedPlan)
      }
      a
    }
    val t1 = System.nanoTime()
    val ok = out.exists(a => guarded(kind)(check(a)).getOrElse(false))
    settle(kind, id, t0, t1, ok)
    if (ok) out else None
  }

  /** Run a non-DataFrame operation (a write or a compaction) as a single
    * exec phase. */
  def action[A](kind: String)(body: => A)(check: A => Boolean = (_: A) => true): Option[A] = {
    val id = opId()
    val t0 = System.nanoTime()
    val out = guarded(kind) {
      val (a, e0, e1) = phase(id, "exec")(body)
      add("exec.wall_ms", (e1 - e0) / 1e6)
      a
    }
    val t1 = System.nanoTime()
    val ok = out.exists(a => guarded(kind)(check(a)).getOrElse(false))
    settle(kind, id, t0, t1, ok)
    if (ok) out else None
  }

  /** Record a failed correctness check that is not tied to one operation. */
  def fail(what: String): Unit = {
    System.err.println(s"CHECK FAILED $what")
    attempted += 1
    failed += 1
  }
}
