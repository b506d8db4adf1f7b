package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  /** Samples strictly beyond the nearest-rank quantile at `p`. */
  private def beyond(n: Int, p: Double): Int =
    n - math.ceil(p * n - 1e-9).toInt.max(1).min(n)

  test("tail percentile: p99 when ten samples lie beyond it") {
    assert(Stats.tailLevel(1000) == 0.99)
    assert(beyond(1000, 0.99) == 10)
    assert(Stats.tailLevel(100000) == 0.99)
  }

  test("tail percentile: the highest level with ten samples beyond it") {
    assert(math.abs(Stats.tailLevel(500) - 0.98) < 1e-12)
    assert(beyond(500, Stats.tailLevel(500)) == 10)
    assert(beyond(40, Stats.tailLevel(40)) == 10)
    for (n <- 20 to 3000) assert(beyond(n, Stats.tailLevel(n)) >= 10, s"n=$n")
  }

  test("tail percentile never drops below the median") {
    assert(Stats.tailLevel(12) == 0.5)
    assert(Stats.tail((1 to 12).map(_.toDouble))._2 == 6.0)
  }

  test("tail value is the nearest-rank quantile at that level") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == ((0.99, 990.0)))
    assert(Stats.median(xs) == 500.0)
  }
}
