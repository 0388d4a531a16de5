package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import scala.jdk.CollectionConverters._

import graft.sources.{LogStore, SnapshotLog}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Named cumulative counters shared by every probe of the traced run. */
object Counters {
  private val c = new ConcurrentHashMap[String, DoubleAdder]()
  def add(name: String, v: Double): Unit =
    c.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def inc(name: String): Unit = add(name, 1)
  def snapshot: Map[String, Double] =
    c.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** A `file://` filesystem that counts the storage calls the engine makes.
  * `fs.manifest_open` counts opens of snapshot-log manifests. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Counters.inc("fs.open")
    val n = f.getName
    if (n.endsWith(".manifest") && f.getParent != null &&
        f.getParent.getName == "_log") Counters.inc("fs.manifest_open")
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Counters.inc("fs.list"); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Counters.inc("fs.create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Counters.inc("fs.rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Counters.inc("fs.delete"); super.delete(f, recursive)
  }
}

/** Counting delegate for the snapshot log's commit primitives. */
final class CountingLogStore(inner: LogStore) extends LogStore {
  def claimExclusive(f: org.apache.hadoop.fs.FileSystem, p: Path): Boolean = {
    Counters.inc("logstore.claim")
    val won = inner.claimExclusive(f, p)
    if (!won) Counters.inc("logstore.claim_lost")
    won
  }
  def publishAtomic(f: org.apache.hadoop.fs.FileSystem, stage: Path,
      dest: Path, body: Array[Byte]): Unit = {
    Counters.inc("logstore.publish"); inner.publishAtomic(f, stage, dest, body)
  }
  def overwriteAtomic(f: org.apache.hadoop.fs.FileSystem, dest: Path,
      body: Array[Byte]): Unit = {
    Counters.inc("logstore.overwrite"); inner.overwriteAtomic(f, dest, body)
  }
}

/** Scheduler and execution counters, plus each job's interval (epoch ms)
  * so an op's driver time outside any job can be computed. */
final class SparkProbe extends SparkListener {
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Counters.inc("spark.jobs")
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.inc("spark.stages")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.inc("spark.tasks")
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("spark.task_ms", m.executorRunTime)
      Counters.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
      Counters.add("spark.gc_ms", m.jvmGCTime)
      Counters.add("spark.shuffle_write_mb",
        m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      Counters.add("spark.shuffle_read_mb",
        m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      Counters.add("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      Counters.add("spark.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
      Counters.add("spark.output_records", m.outputMetrics.recordsWritten)
    }
  }

  /** Milliseconds of [t0, t1] covered by no job. */
  def gapMs(t0: Long, t1: Long): Double = {
    val ivs = jobs.asScala.toSeq
      .map { case (s, e) => (s.max(t0), e.min(t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = t0
    ivs.foreach { case (s, e) =>
      val from = s.max(end)
      if (e > from) { covered += e - from; end = e }
    }
    (t1 - t0 - covered).toDouble
  }
}

/** Catalyst phase times of every query an action ran. */
final class CatalystProbe extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning")(phase))
        Counters.add(s"catalyst.${phase}_ms", s.durationMs)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

object Layers {
  /** Traced against untraced op latency, when the run timed both. */
  def overhead(traced: Seq[Double], plain: Seq[Double]): Map[String, Double] =
    if (traced.isEmpty || plain.isEmpty) Map.empty
    else {
      val (t, p) = (Stats.median(traced), Stats.median(plain))
      Map("trace.op_p50_ms" -> t, "trace.untraced_op_p50_ms" -> p,
        "trace.overhead_pct" -> 100 * (t - p) / p)
    }

  /** The median over traced ops of the summed wall time of their `steps`
    * spans, as a share of the median untraced op latency: how much of the
    * op's own wall time the step calls account for. */
  def coverage(tracer: Tracer, steps: Set[String], untracedMs: Seq[Double])
      : Map[String, Double] = {
    val perOp = tracer.all.filter(s => steps(s.name)).groupBy(_.op).values
      .map(_.map(s => s.endNs - s.startNs).sum / 1e6).toSeq
    if (perOp.isEmpty || untracedMs.isEmpty) Map.empty
    else Map("trace.step_coverage_pct" ->
      100.0 * Stats.median(perOp) / Stats.median(untracedMs))
  }
}

/** The traced run's probes: installed once before the workload starts. */
final class Layers(spark: SparkSession) {
  val sparkProbe = new SparkProbe
  spark.sparkContext.addSparkListener(sparkProbe)
  spark.listenerManager.register(new CatalystProbe)
  SnapshotLog.setLogStore(new CountingLogStore(SnapshotLog.logStore))

  private def drain(): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Runs `body` as one op and returns its result with the op's counter
    * deltas and its driver gap (wall time outside every Spark job). */
  def op[A](body: => A): (A, Map[String, Double]) = {
    drain()
    val before = Counters.snapshot
    val t0 = System.currentTimeMillis()
    val a = body
    val t1 = System.currentTimeMillis()
    drain()
    val after = Counters.snapshot
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    (a, delta + ("spark.driver_gap_ms" -> sparkProbe.gapMs(t0, t1)) +
      ("spark.job_active_ms" -> ((t1 - t0) - sparkProbe.gapMs(t0, t1))))
  }
}
