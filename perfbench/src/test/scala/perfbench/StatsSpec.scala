package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(40.0, 10.0, 30.0, 20.0)
    assert(Stats.percentile(xs, 0) == 10.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.median(xs) == 25.0)
    assert(math.abs(Stats.percentile(xs, 90) - 37.0) < 1e-9)
  }

  test("a percentile carries its sample count and the samples beyond it") {
    val p = Stats.pct((1 to 100).map(_.toDouble), 90)
    assert(p.samples == 100)
    assert(math.abs(p.value - 90.1) < 1e-9)
    assert(p.beyond == 10)
  }

  test("p90 is resolved only with at least 10 samples beyond it") {
    assert(Stats.pct((1 to 100).map(_.toDouble), 90).resolved())
    assert(!Stats.pct((1 to 90).map(_.toDouble), 90).resolved())
    // ties at the top do not count as beyond
    val tied = (1 to 90).map(_.toDouble) ++ Seq.fill(20)(1000.0)
    val p = Stats.pct(tied, 90)
    assert(p.value == 1000.0 && p.beyond == 0 && !p.resolved())
  }
}
