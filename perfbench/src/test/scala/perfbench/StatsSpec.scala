package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail percentile: the highest whole percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(10) === None)
    assert(Stats.tailPercentile(11) === Some(9))
    assert(Stats.tailPercentile(20) === Some(50))
    assert(Stats.tailPercentile(100) === Some(90))
    assert(Stats.tailPercentile(1000) === Some(99))
    for (n <- 11 to 2000) {
      val p = Stats.tailPercentile(n).get
      val rank = math.ceil(p / 100.0 * n).toInt
      assert(n - rank >= 10, s"n=$n p=$p leaves ${n - rank} beyond")
      val rankUp = math.ceil((p + 1) / 100.0 * n).toInt
      assert(p == 99 || n - rankUp < 10, s"n=$n: p${p + 1} also qualifies")
    }
  }

  test("tail value: nearest rank at the tail percentile, max when too few") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) === ((90, 90.0)))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) === ((100, 3.0)))
  }

  test("a failed op lies beyond every percentile") {
    val xs = (1 to 30).map(_.toDouble) :+ Double.PositiveInfinity
    assert(Stats.median(xs) === 16.0)
    assert(Stats.percentile(xs.sorted.toIndexedSeq, 100).isPosInfinity)
  }

  test("median: the middle sample, or the mean of the middle two") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, Double.PositiveInfinity)) === 2.5)
  }

  test("growth ratio compares the last quarter with the first") {
    assert(Stats.growthRatio(Seq(1.0, 1, 1, 1, 2, 2, 2, 2)) === 2.0)
    assert(Stats.growthRatio(Seq.fill(12)(5.0)) === 1.0)
  }
}
