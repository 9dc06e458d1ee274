package graft

import graft.metrics.TaskLog

/** [[graft.metrics.TaskLog]] windows are exact per query: `take()`
  * drains the listener bus, so two back-to-back actions with known
  * partition counts each see only their own jobs, stages and tasks —
  * with no sleep or poll anywhere. RDD actions keep AQE out of the
  * counts. */
class TaskLogSpec extends SparkSpec {

  test("back-to-back takes attribute each query's own jobs, stages and tasks") {
    val sc = spark.sparkContext
    val log = TaskLog.attach(spark)
    try {
      sc.parallelize(1 to 100, 3).count()
      val first = log.take()
      sc.parallelize(1 to 100, 5).map(x => (x % 7, x)).reduceByKey(_ + _, 2).count()
      val second = log.take()
      val idle = log.take()

      assert((first.jobs, first.stages.size, first.tasks.size) == (1, 1, 3))
      assert(first.sum(_.shuffleWriteRecords) == 0)
      assert((second.jobs, second.stages.size, second.tasks.size) == (1, 2, 7))
      assert(second.tasks.groupBy(_.stageId).values.map(_.size).toSeq.sorted == Seq(2, 5))
      // map-side combine: each 20-int slice writes its 7 residues once
      assert(second.sum(_.shuffleWriteRecords) == 35)
      assert(second.sum(_.shuffleReadRecords) == 35)
      assert(first.stages.map(_._1).intersect(second.stages.map(_._1)).isEmpty)
      assert((idle.jobs, idle.stages, idle.tasks) == (0, Nil, Nil))
    } finally sc.removeSparkListener(log)
  }
}
