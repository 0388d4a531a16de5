package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import org.apache.spark.sql.types._

/** The orders table as the engine sees it. */
object Orders {
  val Key = "o_orderkey"
  val Values: Seq[String] = Seq("o_custkey", "o_totalprice", "o_orderpriority")
  val schema: StructType = StructType(Seq(
    StructField(Key, LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  def row(o: Order): Row = Row(o.key, o.cust, o.price, o.prio)

  def df(spark: SparkSession, rows: Seq[Order], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(row), parts), schema)

  /** Forces every column of `df` (a row count alone would let Spark skip
    * decoding them) and returns its row count. */
  def force(df: DataFrame): Long =
    df.agg(count(lit(1)),
      bit_xor(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))
      .collect().head.getLong(0)

  /** Collects `df`'s orders columns into a key → row map; a key seen twice
    * is reported as a duplicate. */
  def collect(df: DataFrame): (Map[Long, Order], Seq[Long]) = {
    val rows = df.select(schema.fieldNames.toIndexedSeq.map(df.col): _*)
      .collect().toSeq
      .map(r => Order(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val dups = rows.groupBy(_.key).collect { case (k, v) if v.size > 1 => k }
    (rows.map(o => o.key -> o).toMap, dups.toSeq.sorted)
  }

  /** Why `got` differs from `want`, or None when they are equal. */
  def diff(what: String, got: DataFrame, want: Map[Long, Order])
      : Option[String] = {
    val (g, dups) = collect(got)
    if (dups.nonEmpty) Some(s"$what: ${dups.size} duplicate keys, e.g. ${dups.head}")
    else Check.mapDiff(what, g, want)
  }
}

/** Reference-check helpers shared by the workloads. */
object Check {
  def mapDiff[K, V](what: String, got: Map[K, V], want: Map[K, V])
      : Option[String] =
    if (got == want) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
      Some(s"$what: ${missing.size} missing, ${extra.size} unexpected, " +
        s"${wrong.size} wrong rows" +
        wrong.headOption.map(k => s", e.g. $k: got ${got(k)} want ${want(k)}")
          .getOrElse(""))
    }

  def equal[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}
