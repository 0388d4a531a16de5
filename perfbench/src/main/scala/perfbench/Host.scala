package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-noise profile recorded with every run. These are recorded fields,
  * not gated metrics: a run whose canaries read slow was measured on a
  * busy host, and its artifact says so. */
object Host {
  /** Cumulative CPU jiffies from /proc/stat: (steal, total). */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Share of all CPU time stolen by the hypervisor since `from`, in %. */
  def stealPct(from: (Long, Long)): Double = {
    val (s, t) = cpuJiffies()
    if (t == from._2) 0.0 else 100.0 * (s - from._1) / (t - from._2)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def ms(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** The scheduler canary of `graft.Bench` (20 one-row jobs) and three
    * fixed scan-shaped canaries over a generated parquet file, each timed
    * once (not the median of 3 `graft.Bench` takes, to keep runs short),
    * and the CPU share stolen by the hypervisor since `since`. Run after
    * the workload, on a warm JVM. */
  def profile(spark: SparkSession, dir: String, since: (Long, Long))
      : Map[String, Any] = {
    val steal = stealPct(since)
    val sched = ms { (0 until 20).foreach(_ => spark.range(1).count()) }
    val path = s"$dir/canary.parquet"
    spark.range(0, 100000, 1, 4)
      .select(col("id"), (col("id") % 97).as("g"),
        (col("id") * 31 % 1000003).cast("double").as("v"),
        concat(lit("s"), (col("id") % 1013).cast("string")).as("s"))
      .write.mode("overwrite").parquet(path)
    val t = spark.read.parquet(path)
    val project = ms(t.select(col("v") * 2, col("s"))
      .agg(bit_xor(xxhash64(col("s")))).collect())
    val agg = ms(t.groupBy("g").agg(sum("v"), count(lit(1))).collect())
    val topk = ms(t.orderBy(col("v").desc).limit(10).collect())
    Map(
      "sched_canary_ms" -> sched,
      "cpu_steal_pct" -> steal,
      "scan_project_canary_ms" -> project,
      "scan_agg_canary_ms" -> agg,
      "scan_topk_canary_ms" -> topk,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "loadavg" -> scala.util.Try(scala.io.Source
        .fromFile("/proc/loadavg").mkString.trim).getOrElse("unknown"))
  }
}
