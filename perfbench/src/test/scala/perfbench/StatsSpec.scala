package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs at least ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty) // 9.9 samples beyond p90
    assert(Stats.percentile(xs :+ 100.0, 90).exists(v => math.abs(v - 90.1) < 1e-9))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.5))
    assert(Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 99).nonEmpty)
  }

  test("median and quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(5.0), 0.9) == 5.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }
}
