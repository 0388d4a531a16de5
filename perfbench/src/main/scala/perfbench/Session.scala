package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: the engine's recommended defaults
  * (`GraftSession.builder`) at `local[cores]`, with every file it writes
  * kept under the run's scratch root. */
object Session {
  private var root: String = "."
  private var traced = false

  def start(cores: Int, dir: String, trace: Boolean): SparkSession = {
    root = dir; traced = trace
    build(cores)
  }

  private def build(cores: Int): SparkSession = {
    val b = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops `spark` and starts a fresh session with `cores` cores. */
  def restart(spark: SparkSession, cores: Int): SparkSession = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    build(cores)
  }
}
