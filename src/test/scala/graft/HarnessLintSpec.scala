package graft

import java.io.File

import scala.io.Source

/** Source guard for the tool harness: every dev tool gets its session
  * from [[graft.metrics.Harness]] and its task metrics from
  * [[graft.metrics.TaskLog]]. A second listener, a hand-built session
  * outside the harness and the Bench/Verify entry points, or a
  * second conf-injection env hook fails here, in the style of
  * SchemaLintSpec. */
class HarnessLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = new File("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    walk(root).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try root.toPath.relativize(f.toPath).toString -> src.mkString
      finally src.close()
    }
  }

  private def filesMatching(re: String): Seq[String] =
    sources.collect { case (path, text) if re.r.findFirstIn(text).isDefined => path }

  test("TaskLog is the only SparkListener in src/main") {
    assert(filesMatching("""\b(extends|with|new)\s+SparkListener\b""") ==
      Seq("graft/metrics/TaskLog.scala"))
  }

  test("sessions are built only by Harness, Bench and Verify") {
    assert(filesMatching("""SparkSession\s*\.\s*builder\b""").sorted ==
      Seq("graft/Bench.scala", "graft/Verify.scala", "graft/metrics/Harness.scala"))
  }

  test("SPARK_GRAFT_CONF is the one conf hook") {
    assert(filesMatching("SPARK_GRAFT_EXTRA_CONFS").isEmpty)
    assert(filesMatching("\"SPARK_GRAFT_CONF\"") == Seq("graft/metrics/Harness.scala"))
  }

  test("SPARK_GRAFT_CONF parses ';'-separated pairs and keeps commas in values") {
    assert(graft.metrics.Harness.parseConfs(" a.b = 1 ;c=x,y;; =v;novalue") ==
      Seq("a.b" -> "1", "c" -> "x,y"))
    assert(graft.metrics.Harness.parseConfs("").isEmpty)
  }
}
