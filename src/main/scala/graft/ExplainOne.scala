package graft

import graft.metrics.Harness

/** Dev tool: print the formatted physical plan of named queries at a
  * given sf dir — the cross-SCALE companion to [[PlanDump]] (which pins
  * sf0.1 plans in PLANS.md). Used to adjudicate shuffle-audit growth
  * outliers: a plan that flips join strategy past a size threshold
  * (broadcast → SMJ under AQE) explains a super-linear byte step that
  * is linear again beyond it.
  * `sbt "runMain graft.ExplainOne /tmp/graft_sf1 q_tpch_q21 ..."`
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Harness.session(32)
    for (n <- names) {
      println(s"==== $n @ $sfDir")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
