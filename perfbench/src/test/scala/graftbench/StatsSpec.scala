package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples, order-independent") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.5)) == 7.5)
  }

  test("percentile interpolates between the closest ranks") {
    val xs = (1 to 11).map(_.toDouble) // ranks 0..10
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 11.0)
    assert(Stats.percentile(xs, 90) == 10.0)
    // NumPy: np.percentile([10, 20, 30, 40], 90) == 37.0
    assert(math.abs(Stats.percentile(Seq(40.0, 10.0, 30.0, 20.0), 90) - 37.0) < 1e-9)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0), 25) - 1.25) < 1e-9)
  }

  test("beyond counts the samples above a percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(xs, 90) == 10)
    assert(Stats.beyond(Seq(5.0, 5.0, 5.0), 50) == 0)
  }

  test("empty samples and out-of-range percentiles are rejected") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
