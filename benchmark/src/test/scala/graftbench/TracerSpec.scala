package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("back-to-back operations keep their own job, stage and task counts") {
    val sc = spark.sparkContext
    val r = new Runner(spark, Some(new Tracer(spark)))
    r.tracing = true
    r.action("one") { sc.parallelize(1 to 100, 2).count() }()
    val jobs1 = r.layer("sched.jobs")
    val tasks1 = r.layer("sched.tasks")
    r.action("three") { (1 to 3).map(_ => sc.parallelize(1 to 100, 3).count()) }()
    assert(jobs1 == 1 && tasks1 == 2)
    assert(r.layer("sched.jobs") - jobs1 == 3)
    assert(r.layer("sched.tasks") - tasks1 == 9)
    assert(r.layer("sched.stages") == 4)
    assert(r.attempted == 2 && r.failed == 0)
  }

  test("an operation outside a traced pass is not attributed") {
    val r = new Runner(spark, Some(new Tracer(spark)))
    r.action("untraced") { spark.sparkContext.parallelize(1 to 10, 2).count() }()
    assert(r.layer("sched.jobs") == 0)
  }

  test("a wrong result and a thrown error both count as failed") {
    val r = new Runner(spark, None)
    r.query("bad")(spark.range(5).toDF())(_.count())(_ == 6L)
    r.action("boom") { throw new IllegalStateException("injected") }()
    assert(r.attempted == 2 && r.failed == 2)
  }

  test("spans nest op phases under their op, and self time excludes them") {
    val tr = new Tracer(spark)
    val r = new Runner(spark, Some(tr))
    r.tracing = true
    r.passSpan = tr.newId()
    r.query("q")(spark.range(1000).toDF())(_.count())(_ == 1000L)
    val op = tr.spans.find(_.name == "q").get
    val phases = tr.spans.filter(_.parent == op.id).map(_.name)
    assert(phases == Seq("build", "plan", "exec"))
    assert(tr.selfMs(op.id) >= 0 && tr.selfMs(op.id) < op.ms)
  }
}
