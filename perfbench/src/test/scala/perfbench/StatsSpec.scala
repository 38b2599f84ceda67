package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    // 40 samples: the 30th smallest (p75) has exactly ten beyond it
    assert(Stats.tailRank(40) == ((75.0, 30)))
    assert(Stats.tailRank(100) == ((90.0, 90)))
    assert(Stats.tailRank(21) == ((100.0 * 11 / 21, 11)))
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.tail(xs) == ((75.0, 30.0)))
    assert(xs.count(_ > Stats.tail(xs)._2) == Stats.TailBeyond)
  }

  test("below 21 samples the tail is the maximum") {
    assert(Stats.tailRank(1) == ((100.0, 1)))
    assert(Stats.tailRank(20) == ((100.0, 20)))
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == ((100.0, 9.0)))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
