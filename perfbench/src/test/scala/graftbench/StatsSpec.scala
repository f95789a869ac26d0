package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
  }

  test("a tail quantile keeps at least ten samples beyond it") {
    assert(Stats.reportableQuantile(0.9, 100) == 0.9)
    assert(Stats.reportableQuantile(0.9, 1000) == 0.9)
    assert(Stats.reportableQuantile(0.9, 40) == 0.75)
    assert(Stats.reportableQuantile(0.95, 100) == 0.9)
    // never below the median, however small the sample
    assert(Stats.reportableQuantile(0.9, 12) == 0.5)
    assert(Stats.reportableQuantile(0.9, 3) == 0.5)
  }

  test("tail reports the value at the quantile it actually used") {
    val xs = (1 to 40).map(_.toDouble)
    val v = Stats.tail(xs, 0.9)
    assert(v == Stats.quantile(xs, 0.75))
    // at least ten samples lie strictly beyond the reported value
    assert(xs.count(_ > v) >= 10)
  }
}
