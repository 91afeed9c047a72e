package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quantile rejects empty input and out-of-range q") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs, 90.0).get
    assert(t.samples == 100 && t.beyond == 10)
    assert(t.value == Stats.quantile(xs, 0.9))
    // 99 samples leave only 9.9 beyond p90
    assert(Stats.tail(xs.take(99), 90.0).isEmpty)
    assert(Stats.tail(xs.take(40), 75.0).map(_.beyond).contains(10))
    assert(Stats.tail(xs.take(39), 75.0).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble), 99.0).map(_.beyond).contains(10))
  }
}
