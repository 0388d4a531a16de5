package perfbench

import graft.sources.SnapshotLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The snapshot log used directly as a keyed table. Orders are first
  * committed as several key-ordered files; then each step appends new
  * orders (`commitBatch`), merges updates to recent, key-clustered orders
  * (`mergeBatch`), and a reader pulls the step's changes
  * (`changesBetween(v-1, v)`) and a time-travel read (`read(Some(v-k))`).
  * Op = one step's two commits; the reader calls are the read metrics. */
object LogUpsertRead extends Workload {
  val name = "log_upsert_read"
  val Rows = 20000
  val Files = 8
  val Appended = 400
  val Updated = 200
  val Lag = 8
  val WarmupSteps = 1
  val SetupReps = 3

  /** The table and what the reference model expects of it. */
  private final class Table(val dir: String, seed: Long) {
    val model = scala.collection.mutable.LinkedHashMap.empty[Long, Order]
    var nextKey = 1L
    /** Row count as of each log version. */
    val rowsAt = scala.collection.mutable.Map.empty[Long, Long]
    /** Rows `changesBetween(v - 1, v)` must return for version v. */
    val changesAt = scala.collection.mutable.Map.empty[Long, Long]
    def fresh(n: Int): Seq[Order] = (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      val o = Gen.order(seed, k, 0); model(k) = o; o
    }
    /** `n` hash-chosen keys among the most recent appends, re-priced. */
    def updates(step: Long, n: Int): Seq[Order] = {
      val window = (nextKey - 4L * Appended).max(1L) until nextKey
      val ks = window.filter(model.contains)
        .sortBy(k => Gen.hash(seed, step, k, 31)).take(n).sorted
      ks.map { k =>
        val o = Gen.order(seed, k, step + 1); model(k) = o; o
      }
    }
  }

  private def prepare(spark: SparkSession, dir: String, seed: Long): Table = {
    val t = new Table(dir, seed)
    val init = t.fresh(Rows)
    val v = SnapshotLog.commit(spark, dir,
      Orders.df(spark, init, 4).repartitionByRange(Files, col(Orders.Key))
        .sortWithinPartitions(Orders.Key))
    t.rowsAt(v) = t.model.size
    t
  }

  private def manifestOpened[A](body: => A): (A, Double) = {
    val m0 = Counters.snapshot.getOrElse("fs.manifest_open", 0.0)
    val a = body
    (a, Counters.snapshot.getOrElse("fs.manifest_open", 0.0) - m0)
  }

  private def append(ctx: Ctx, t: Table, step: Long): (Long, Double) = {
    val df = Orders.df(ctx.spark, t.fresh(Appended), 1)
    val (v, opens) = manifestOpened(ctx.tracer.span("snapshot.commit_batch") {
      SnapshotLog.commitBatch(ctx.spark, t.dir, df, 2 * step)
    })
    t.rowsAt(v) = t.model.size; t.changesAt(v) = Appended
    (v, opens)
  }

  private def merge(ctx: Ctx, t: Table, step: Long): (Long, Double) = {
    val ups = t.updates(step, Updated)
    val df = Orders.df(ctx.spark, ups, 1)
    val (v, opens) = manifestOpened(ctx.tracer.span("snapshot.merge_batch") {
      SnapshotLog.mergeBatch(ctx.spark, t.dir, df, Seq(Orders.Key), 2 * step + 1)
    })
    // an update shows in the change feed as its old and its new image
    t.rowsAt(v) = t.model.size; t.changesAt(v) = 2L * ups.size
    (v, opens)
  }

  /** The reader: the step's changes and a time-travel read `Lag` versions
    * back, each forced; returns their latency in ms and any mismatch. */
  private def read(ctx: Ctx, t: Table, v: Long): (Double, Seq[String]) = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val asOf = (v - Lag).max(t.rowsAt.keys.min)
    val (chg, chgS) = Workload.timedS {
      val df = tr.span("snapshot.changes_between_construct") {
        SnapshotLog.changesBetween(spark, t.dir, v - 1, v)
      }
      tr.span("snapshot.changes_between_action")(Orders.force(df))
    }
    val (old, oldS) = Workload.timedS {
      val df = tr.span("snapshot.read_asof_construct") {
        SnapshotLog.read(spark, t.dir, Some(asOf))
      }
      tr.span("snapshot.read_asof_action")(Orders.force(df))
    }
    ((chgS + oldS) * 1e3,
      Seq(Check.equal(s"changesBetween(${v - 1}, $v) rows", chg, t.changesAt(v)),
        Check.equal(s"read as of v$asOf rows", old, t.rowsAt(asOf))).flatten)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    // set-up, repeated: generate and commit the table, then warm up with
    // whole steps; the last repetition's table is the one measured
    var table: Table = null
    val setups = (0 until SetupReps).map { rep =>
      Workload.timedS {
        table = prepare(spark, ctx.tmp(s"lur$rep"), ctx.seed)
        (0 until WarmupSteps).foreach { s =>
          append(ctx, table, s)
          fails ++= read(ctx, table, merge(ctx, table, s)._1)._2
        }
      }._2
    }
    val t = table
    val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var rows = 0L
    var v = 0L
    // manifest opens of each traced step: (version, append, merge)
    val manifestOpens = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val tracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plainMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // op = one step: the append, then the merge
    def tracedOp(i: Int) = ctx.traced && i % 2 == 0
    val loop = Workload.closedLoop(ctx.seconds, 8, new Workload.Steps {
      // the metadata calls the commits depend on, timed on their own
      // before a traced op and outside it, so traced and untraced ops do
      // the same work
      override def prepare(i: Int): Unit = if (tracedOp(i)) {
        ctx.tracer.enabled = true
        ctx.tracer.startOp(i)
        metadataProbes(ctx, t)
      }
      def op(i: Int): Unit = {
        val step = WarmupSteps + i.toLong
        val s = System.nanoTime()
        ctx.layers match {
          // traced ops alternate with untraced ones, for the tracing overhead
          case Some(layers) if tracedOp(i) =>
            perOp += layers.op(ctx.tracer.span("op") {
              val (_, a) = append(ctx, t, step)
              val (mv, m) = merge(ctx, t, step)
              manifestOpens += ((mv, a, m))
              v = mv
            })._2
            tracedMs += (System.nanoTime() - s) / 1e6
          case _ =>
            ctx.tracer.enabled = false
            append(ctx, t, step)
            v = merge(ctx, t, step)._1
            plainMs += (System.nanoTime() - s) / 1e6
        }
        rows += Appended + Updated
      }
      override def after(i: Int): Unit = {
        val (ms, bad) = read(ctx, t, v)
        readMs += ms
        if (bad.nonEmpty) throw new IllegalStateException(bad.mkString("; "))
      }
    })
    val lat = loop.opMs
    fails ++= loop.failures
    fails ++= Orders.diff("final table", SnapshotLog.read(spark, t.dir),
      t.model.toMap).toSeq
    val versions = SnapshotLog.versions(spark, t.dir)
    val files = SnapshotLog.read(spark, t.dir).inputFiles.length.toLong
    Outcome(setups, lat, readMs.toSeq, rows, lat.filter(!_.isInfinite).sum / 1e3,
      lat.size, fails.toSeq, perOp.toSeq,
      info = Map("versions" -> versions.size.toLong,
        "files" -> files),
      layerExtra = manifestReads(manifestOpens.toSeq) ++
        Layers.overhead(tracedMs.toSeq, plainMs.toSeq) ++
        Map("snapshot.manifest_files" -> files.toDouble))
  }

  /** In the traced run, the snapshot log's metadata calls an op's commits
    * depend on, timed on their own just before the op. */
  private def metadataProbes(ctx: Ctx, t: Table): Unit = {
    ctx.tracer.span("snapshot.versions")(SnapshotLog.versions(ctx.spark, t.dir))
    ctx.tracer.span("snapshot.last_batch")(SnapshotLog.lastBatch(ctx.spark, t.dir))
  }

  /** Manifest opens per append and per merge over the earliest and the
    * latest quarter of the traced ops, with the log versions reached and,
    * for comparison, the 2V+17 reads per merge ROADMAP item 2 measured. */
  private def manifestReads(ops: Seq[(Long, Double, Double)]): Map[String, Double] =
    if (ops.isEmpty) Map.empty
    else {
      val q = (ops.size / 4).max(1)
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      val (e, l) = (ops.take(q), ops.takeRight(q))
      val (ve, vl) = (mean(e.map(_._1.toDouble)), mean(l.map(_._1.toDouble)))
      Map("fs.manifest_open_per_append_early" -> mean(e.map(_._2)),
        "fs.manifest_open_per_append_late" -> mean(l.map(_._2)),
        "fs.manifest_open_per_merge_early" -> mean(e.map(_._3)),
        "fs.manifest_open_per_merge_late" -> mean(l.map(_._3)),
        "log.version_early" -> ve, "log.version_late" -> vl,
        "roadmap.merge_reads_2v_plus_17_early" -> (2 * ve + 17),
        "roadmap.merge_reads_2v_plus_17_late" -> (2 * vl + 17))
    }
}
