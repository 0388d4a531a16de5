package perfbench

import scala.collection.mutable

/** One row of the benchmark's orders table: the key and three value
  * columns, shaped like TPC-H `orders`. */
final case class Order(key: Long, cust: Long, price: Double, prio: String)

/** Seeded, Spark-free input generation. Every value is a pure function of
  * (seed, coordinates), so the same seed always yields the same inputs and
  * a different seed different ones. */
object Gen {
  /** splitmix64 finaliser: a cheap, well-mixed 64-bit hash step. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  /** Uniform in [0, n). */
  def below(n: Long, seed: Long, parts: Long*): Long =
    java.lang.Math.floorMod(hash(seed, parts: _*), n)

  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** The image of `key` at revision `rev`. Distinct revisions of one key
    * always differ in price, so an update always changes the row. */
  def order(seed: Long, key: Long, rev: Long): Order = {
    val cust = 1 + below(15000, seed, key, rev, 1)
    val cents = 100000 + below(50000000, seed, key, 2) + rev * 17
    Order(key, cust, cents / 100.0,
      Priorities(below(Priorities.size, seed, key, rev, 3).toInt))
  }
}

/** Per-batch churn the generator applied: the I/U/D/N counts a correct
  * merge must report. */
final case class Churn(batch: Long, inserted: Long, updated: Long,
    deleted: Long, unchanged: Long) {
  def asOps: Map[String, Long] =
    Map("I" -> inserted, "U" -> updated, "D" -> deleted, "N" -> unchanged)
  def rowsAfter: Long = inserted + updated + unchanged
}

/** Full-extract source: `initial` rows, then each [[next]] extract changes
  * a hash-chosen ~2% of keys — 1% updated, 0.5% deleted, 0.5% new. */
final class ExtractSource(seed: Long, initial: Int) {
  private val live = mutable.LinkedHashMap.empty[Long, Order]
  private var nextKey = 1L
  (0 until initial).foreach { _ => add() }

  private def add(): Long = {
    val k = nextKey; nextKey += 1
    live(k) = Gen.order(seed, k, 0); k
  }

  def rows: Vector[Order] = live.valuesIterator.toVector
  def size: Int = live.size

  def next(batch: Long): Churn = {
    var upd = 0L; var del = 0L
    val before = live.size
    live.keysIterator.toVector.foreach { k =>
      val r = Gen.below(10000, seed, batch, k, 11)
      if (r < 100) { live(k) = Gen.order(seed, k, batch); upd += 1 }
      else if (r < 150) { live.remove(k); del += 1 }
    }
    val ins = before / 200
    (0 until ins).foreach { _ => add() }
    Churn(batch, ins, upd, del, before - upd - del)
  }
}
