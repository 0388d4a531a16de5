package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload run needs: the session, its scratch root, the seed,
  * the measured-phase length and, in the traced run, the probes. */
final case class Ctx(spark: SparkSession, dir: String, seed: Long,
    seconds: Double, tracer: Tracer, layers: Option[Layers]) {
  def traced: Boolean = layers.isDefined
  def tmp(name: String): String = s"$dir/$name"
}

/** One workload run's raw results; [[Main]] turns them into metrics.
  *
  * `opMs` is in op order, failed ops as +Inf. `failures` names every op
  * or reference check that failed. `perOp` holds each traced op's layer
  * deltas; `layerExtra` per-layer figures that are not per-op deltas. */
final case class Outcome(
    setupS: Seq[Double],
    opMs: Seq[Double],
    readMs: Seq[Double],
    rowsApplied: Long,
    measuredS: Double,
    attempted: Long,
    failures: Seq[String],
    perOp: Seq[Map[String, Double]] = Seq.empty,
    info: Map[String, Any] = Map.empty,
    layerExtra: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(ExtractMerge, LogUpsertRead)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The parts of one closed-loop op: only [[op]] is timed. [[prepare]]
    * (input generation) runs before it, [[after]] (checks, reader calls)
    * after it; an exception in either fails the op. */
  trait Steps {
    def prepare(i: Int): Unit = ()
    def op(i: Int): Unit
    def after(i: Int): Unit = ()
  }

  /** Runs ops 0, 1, ... until `seconds` have passed since the first one
    * started (the op in flight completes), at least `minOps` of them.
    * A failed op's latency is +Inf. */
  def closedLoop(seconds: Double, minOps: Int, steps: Steps): Loop = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minOps) {
      try {
        steps.prepare(i)
        lat += timedS(steps.op(i))._2 * 1e3
        steps.after(i)
      } catch {
        case e: Exception =>
          if (lat.size == i) lat += Double.PositiveInfinity
          else lat(i) = Double.PositiveInfinity
          fails += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(300)
      }
      i += 1
    }
    Loop(lat.toSeq, fails.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** A closed loop's results: per-op ms (+Inf when the op failed), the
    * failures, and the phase length in seconds. */
  final case class Loop(opMs: Seq[Double], failures: Seq[String],
      seconds: Double)
}
