package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The catalogue the JVM reports from and BENCHMARK.json must agree,
  * name for name and unit for unit. */
class MetricCatalogSpec extends AnyFunSuite {

  private val spec = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_))
      .find(_.exists).getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(f)
  }

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("every metric name is made of letters, digits, '_', '.' and '-'") {
    for ((n, _) <- Metrics.endToEnd ++ Metrics.perLayer)
      assert(n.matches(Metrics.NamePattern), n)
    assert((Metrics.endToEnd ++ Metrics.perLayer).map(_._1).distinct.size ==
      Metrics.endToEnd.size + Metrics.perLayer.size)
  }

  test("the traced metrics are exactly BENCHMARK.json's per_layer list, with units") {
    assert(listed("per_layer") == Metrics.perLayer)
  }

  test("the untraced metrics are exactly BENCHMARK.json's end_to_end list, with units") {
    assert(listed("end_to_end") == Metrics.endToEnd)
  }

  test("every workload in BENCHMARK.json has an implementation") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Main.Workloads.keySet)
  }
}
