package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The reference checks must catch a corrupted state or result. */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val want = new ExtractSource(1, 300).rows

  private def wantMap = want.map(o => o.key -> o).toMap

  test("an intact table passes") {
    assert(Orders.diff("t", Orders.df(spark, want, 2), wantMap) === None)
  }

  test("a changed value, a lost row, an extra row and a duplicate key are caught") {
    val changed = want.updated(7, want(7).copy(price = want(7).price + 0.01))
    val lost = want.drop(1)
    val extra = want :+ Order(999999L, 1L, 1.0, "1-URGENT")
    val dup = want :+ want(3)
    for ((name, rows) <- Seq("changed" -> changed, "lost" -> lost,
        "extra" -> extra, "duplicate" -> dup)) {
      val d = Orders.diff(name, Orders.df(spark, rows, 2), wantMap)
      assert(d.isDefined, s"$name corruption went unnoticed")
    }
  }

  test("a wrong op count is caught") {
    assert(Check.equal("I/U/D/N", Map("I" -> 1L), Map("I" -> 1L)) === None)
    assert(Check.equal("I/U/D/N", Map("I" -> 2L), Map("I" -> 1L)).isDefined)
  }

  test("the forced read counts every row") {
    assert(Orders.force(Orders.df(spark, want, 3)) === want.size)
  }
}
