package graft

import graft.metrics.Harness

/** Dev tool: time individual queries by name at a given sf dir.
  * `sbt "runMain graft.TimeOne /root/testdata/sf0.1 q_dedup_simhash ..."`
  * Runs each query twice (cold, warm) after one warmup query. A/B a
  * candidate tuning with the harness hook, e.g.
  * `SPARK_GRAFT_CONF="spark.sql.codegen.methodSplitThreshold=256"`.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Harness.session(32)
    try SparkEntry.queries("q_text_stats")(spark, sfDir).count() catch { case _: Throwable => }
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(2)
    for (n <- names; i <- 1 to runs) {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, sfDir).count()
      println(f"TIME $n run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($rows rows)")
    }
    spark.stop()
  }
}
