package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs)._1 == 90)
    assert(Stats.tail((1 to 200).map(_.toDouble))._1 == 95)
  }

  test("with ten samples or fewer the tail is the maximum") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((100, 3.0)))
  }

  test("median interpolates like statistics.median") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }
}
