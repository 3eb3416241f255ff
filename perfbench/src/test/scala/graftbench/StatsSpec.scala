package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ms(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(ms(19)).isEmpty)
    assert(Stats.tail(ms(20)).map(_.name).contains("p50"))
    assert(Stats.tail(ms(39)).map(_.name).contains("p50"))
    assert(Stats.tail(ms(40)).map(_.name).contains("p75"))
    assert(Stats.tail(ms(100)).map(_.name).contains("p90"))
    assert(Stats.tail(ms(200)).map(_.name).contains("p95"))
    assert(Stats.tail(ms(1000)).map(_.name).contains("p99"))
    assert(Stats.tail(ms(10000)).map(_.name).contains("p99.9"))
  }

  test("the tail states its value and sample count") {
    val t = Stats.tail(ms(100)).get
    assert(t.value == 90.0 && t.samples == 100 && t.percentile == 90.0)
    assert(Stats.beyond(100, 90.0) == 10)
  }

  test("percentile names drop trailing zeros") {
    assert(Stats.name(50.0) == "p50")
    assert(Stats.name(99.9) == "p99.9")
    assert(Stats.name(99.99) == "p99.99")
  }

  test("a failed call lies beyond every tail") {
    val xs = ms(99) :+ Double.PositiveInfinity
    assert(Stats.tail(xs).get.value == 90.0)
    assert(Stats.percentile(xs, 100.0).isPosInfinity)
    assert(Stats.median(Seq(1.0, Double.PositiveInfinity, 3.0)) == 3.0)
  }

  test("median averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }
}
