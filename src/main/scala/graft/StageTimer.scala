package graft

import graft.metrics.{Harness, TaskLog}

/** Dev tool: run named queries (after a JIT warm run) and print per-STAGE
  * task-time / record counts for the warm execution, so "where does the
  * warm second go" is answered with data instead of plan guesses.
  * `sbt "runMain graft.StageTimer /root/testdata/sf0.1 q_x ..."` */
object StageTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Harness.session(32)
    val log = TaskLog.attach(spark)
    for (n <- names) {
      try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => }
      log.take()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val run = log.take()
      println(f"==== $n warm: $wall%.3f s ($rows rows)")
      val byStage = run.tasks.groupBy(_.stageId)
      for ((id, name) <- run.stages.sortBy(_._1)) {
        val ts = byStage.getOrElse(id, Seq.empty)
        val rt = ts.map(_.runMs).sum
        val cpu = ts.map(_.cpuNs).sum / 1000000L
        val recs = ts.map(t => t.inputRecords + t.shuffleReadRecords).sum
        println(f"  stage $id%5d run=${rt}%6d ms cpu=${cpu}%6d ms tasks=${ts.size}%3d recs=$recs%9d  ${name.take(60)}")
      }
    }
    spark.stop()
  }
}
