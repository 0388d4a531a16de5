package perfbench

import graft.{Pipeline, PipelineConfig}
import graft.sources.{SnapshotLog, Sources}
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession

/** The paper's scheduled CDC merge (R1–R9): an initial load, then full
  * extracts merged one after another through `Pipeline.run` with a
  * snapshot log and a copy-on-write replica. Closed loop: the next extract
  * starts when the previous merge returns. Op = one `Pipeline.run`. */
object ExtractMerge extends Workload {
  val name = "extract_merge"
  val Rows = 20000
  val WarmupBatches = 1
  val SetupReps = 3
  /** Reader calls after each op: the state as of its batch and the
    * `Reads - 1` before it. */
  val Reads = 2

  private final case class Table(dir: String, src: ExtractSource,
      cfg: PipelineConfig, churn: scala.collection.mutable.Map[Long, Churn]) {
    def extractPath(b: Long) = s"$dir/extract/b$b"
    def sizeAt(b: Long): Long = churn(b).rowsAfter
  }

  private def prepare(spark: SparkSession, dir: String, seed: Long): Table = {
    val src = new ExtractSource(seed, Rows)
    val cfg = PipelineConfig(sourcePath = "", format = "parquet",
      schema = Orders.schema, keyCols = Seq(Orders.Key),
      valueCols = Orders.Values, stateDir = s"$dir/state",
      logDir = Some(s"$dir/log"), cowDir = Some(s"$dir/cow"))
    Table(dir, src, cfg, scala.collection.mutable.Map.empty)
  }

  /** Writes extract `b` (after applying its churn; batch 0 is the initial
    * full load) and returns the config that reads it. */
  private def nextExtract(spark: SparkSession, t: Table, b: Long): PipelineConfig = {
    val churn =
      if (b == 0) Churn(0, t.src.size, 0, 0, 0) else t.src.next(b)
    t.churn(b) = churn
    Orders.df(spark, t.src.rows, 4).write.parquet(t.extractPath(b))
    t.cfg.copy(sourcePath = t.extractPath(b))
  }

  private def checkCounts(t: Table, b: Long, got: Map[String, Long])
      : Option[String] = {
    def nonZero(m: Map[String, Long]) = m.filter(_._2 != 0)
    Check.equal(s"batch $b I/U/D/N counts", nonZero(got), nonZero(t.churn(b).asOps))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    def load(t: Table, b: Long): Unit = {
      val got = Pipeline.run(spark, nextExtract(spark, t, b), b)
      checkCounts(t, b, got).foreach(fails += _)
    }
    // set-up, repeated: generate the source and make the initial load;
    // the last repetition's table is warmed up with incremental merges
    // and measured
    var table: Table = null
    val setups = (0 until SetupReps).map { rep =>
      Workload.timedS {
        table = prepare(spark, ctx.tmp(s"em$rep"), ctx.seed)
        load(table, 0)
      }._2
    }
    val t = table
    (1 to WarmupBatches).foreach(b => load(t, b))
    val first = WarmupBatches + 1L
    val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plainMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cfg: PipelineConfig = null
    var got = Map.empty[String, Long]
    val loop = Workload.closedLoop(ctx.seconds, 4,
      new Workload.Steps {
        override def prepare(i: Int): Unit = cfg = nextExtract(spark, t, first + i)
        def op(i: Int): Unit = {
          val b = first + i
          val s = System.nanoTime()
          got = ctx.layers match {
            // traced ops run Pipeline.run's public steps one by one; every
            // other op runs Pipeline.run itself, for the tracing overhead
            case Some(layers) if i % 2 == 0 =>
              ctx.tracer.enabled = true
              val (ops, d) = layers.op(tracedRun(ctx, cfg, b))
              perOp += d ++ ops.map { case (k, v) => s"cdc.rows_$k" -> v.toDouble }
              tracedMs += (System.nanoTime() - s) / 1e6
              ops
            case _ =>
              ctx.tracer.enabled = false
              val ops = Pipeline.run(spark, cfg, b)
              plainMs += (System.nanoTime() - s) / 1e6
              ops
          }
          rows += t.src.size
        }
        override def after(i: Int): Unit = {
          checkCounts(t, first + i, got)
            .foreach(m => throw new IllegalStateException(m))
          (0 until Reads).foreach { k =>
            readMs += readAsOf(ctx, t, first + i - k)
          }
        }
      })
    val lat = loop.opMs
    fails ++= loop.failures
    val last = first + lat.size - 1
    fails ++= verify(spark, t, Seq(first, last))
    val overhead = Layers.overhead(tracedMs.toSeq, plainMs.toSeq) ++
      Layers.coverage(ctx.tracer, Steps, plainMs.toSeq)
    val baseline =
      if (ctx.traced) Map("baseline.local1_op_p50_ms" -> localOneBaseline(ctx))
      else Map.empty[String, Double]
    // rows/s counts merge time only: extract generation between ops is
    // not the engine's work
    Outcome(setups, lat, readMs.toSeq, rows,
      lat.filter(!_.isInfinite).sum / 1e3,
      lat.size, fails.toSeq, perOp.toSeq,
      info = Map("rows_per_extract" -> t.src.size,
        "wall_s" -> loop.seconds),
      layerExtra = overhead ++ baseline)
  }

  /** The reader: the state as of batch `b`, through the log, forced; its
    * latency in ms. Its row count must be that extract's. */
  private def readAsOf(ctx: Ctx, t: Table, b: Long): Double = {
    val (n, s) = Workload.timedS {
      val df = ctx.tracer.span("cdcstream.state_as_of_batch") {
        CdcStream.stateAsOfBatch(ctx.spark, t.cfg.logDir.get, b).get
      }
      Orders.force(df)
    }
    Check.equal(s"state as of batch $b rows", n, t.sizeAt(b))
      .foreach(m => throw new IllegalStateException(m))
    s * 1e3
  }

  /** The spans of [[tracedRun]]'s steps. */
  val Steps: Set[String] = Set("pipeline.read_extract", "cdcstream.merge",
    "cdcstream.log_commit", "cdcstream.cow_apply")

  /** `Pipeline.run`'s steps, each a span: read + align the extract, merge
    * without log or replica, commit the state to the log, apply the feed
    * to the replica. */
  private def tracedRun(ctx: Ctx, cfg: PipelineConfig, b: Long)
      : Map[String, Long] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tr.startOp(b)
    tr.span("op") {
      val df = tr.span("pipeline.read_extract") {
        Sources.alignToSchema(spark.read.parquet(cfg.sourcePath), cfg.schema,
          cfg.keyCols, strict = cfg.strictSchema)
      }
      val ops = tr.span("cdcstream.merge") {
        CdcStream.mergeBatch(df, b, cfg.cdc, cfg.stateDir)
      }
      tr.span("cdcstream.log_commit") {
        CdcStream.commitStateToLog(spark, cfg.stateDir, cfg.logDir.get, b)
      }
      tr.span("cdcstream.cow_apply") {
        CdcStream.applyFeedToCowLog(spark, cfg.stateDir, cfg.cowDir.get,
          cfg.cdc, upTo = Some(b))
      }
      ops
    }
  }

  /** Reference checks after the measured phase: the final state is the
    * last extract, the log's state as of sampled batches is that batch's
    * extract, and the replica equals the state. */
  private def verify(spark: SparkSession, t: Table, sampled: Seq[Long])
      : Seq[String] = {
    val want = t.src.rows.map(o => o.key -> o).toMap
    val state = CdcStream.currentState(spark, t.cfg.stateDir)
    val checks = Seq(
      state.map(Orders.diff("final state", _, want))
        .getOrElse(Some("final state: none committed")),
      Orders.diff("replica", SnapshotLog.read(spark, t.cfg.cowDir.get), want)) ++
      sampled.distinct.map { b =>
        val extract = Orders.collect(spark.read.parquet(t.extractPath(b)))._1
        CdcStream.stateAsOfBatch(spark, t.cfg.logDir.get, b)
          .map(Orders.diff(s"state as of batch $b", _, extract))
          .getOrElse(Some(s"state as of batch $b: not in the log"))
      }
    checks.flatten
  }

  /** The stream-processing baseline: the same merges on one core. */
  private def localOneBaseline(ctx: Ctx): Double = {
    val spark1 = Session.restart(ctx.spark, cores = 1)
    val t = prepare(spark1, ctx.tmp("em_local1"), ctx.seed)
    (0 to 1).foreach(b => Pipeline.run(spark1, nextExtract(spark1, t, b), b))
    val ms = (1 to 3).map { i =>
      val b = 1L + i
      val cfg = nextExtract(spark1, t, b)
      Workload.timedS(Pipeline.run(spark1, cfg, b))._2 * 1e3
    }
    Stats.median(ms)
  }
}
