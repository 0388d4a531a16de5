package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def extracts(seed: Long, n: Int) = {
    val src = new ExtractSource(seed, 2000)
    (1L to n).map(b => (src.next(b), src.rows))
  }

  test("extracts: the same seed gives the same inputs, another seed others") {
    assert(extracts(7, 3) === extracts(7, 3))
    assert(extracts(7, 3) !== extracts(8, 3))
  }

  test("extract churn: ~1% updated, ~0.5% deleted, 0.5% new, counts add up") {
    val src = new ExtractSource(3, 20000)
    val before = src.rows.map(o => o.key -> o).toMap
    val c = src.next(1)
    val after = src.rows.map(o => o.key -> o).toMap
    assert(c.inserted === 100)
    assert(c.updated > 140 && c.updated < 260, c)
    assert(c.deleted > 60 && c.deleted < 140, c)
    assert(c.inserted + c.updated + c.unchanged === after.size)
    assert((before.keySet -- after.keySet).size === c.deleted)
    assert((after.keySet -- before.keySet).size === c.inserted)
    assert(before.count { case (k, o) => after.get(k).exists(_ != o) } === c.updated)
  }
}
