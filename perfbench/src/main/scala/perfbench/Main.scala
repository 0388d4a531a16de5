package perfbench

import scala.collection.immutable.ListMap

/** Runs one benchmark workload and prints its metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <scratch>
  * }}}
  *
  * Prints a report (every metric with its unit), then, as the last line,
  * one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
  * end-to-end metrics untraced, the per-layer metrics traced. The full
  * artifact (host profile, every figure) goes to `<scratch>/result.json`,
  * and the traced run's spans to `<scratch>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.byName(a.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; one of: ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val dir = a("dir")
    // half the host's cores: the executor threads, the driver thread and
    // the GC then fit on the host with room to spare, so a neighbour's
    // burst on one core does not stall every stage of an op
    val cores = (Runtime.getRuntime.availableProcessors / 2).max(1)

    val cpuAtStart = Host.cpuJiffies()
    val (spark, sessionS) = Workload.timedS(Session.start(cores, dir, trace))
    val layers = if (trace) Some(new Layers(spark)) else None
    val tracer = new Tracer
    val (out, workloadS) = Workload.timedS(w.run(Ctx(spark, dir, seed, seconds, tracer, layers)))
    val rss = Host.peakRssMb()
    val (host, profileS) =
      Workload.timedS(Host.profile(org.apache.spark.sql.SparkSession.active, dir, cpuAtStart))

    val e2e = endToEnd(out, rss)
    val layer = if (trace) perLayer(out, tracer) else ListMap.empty[String, (Double, String)]
    val failed = out.failures.size.toLong.min(out.attempted)
    val correct = out.failures.isEmpty
    val shown =
      if (trace) layer.filter { case (k, _) => PerLayer.exists(_._1 == k) }
      else e2e.filter { case (k, _) => Gated(k) }

    println(s"== ${w.name} seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores session_start_s=${"%.3f".format(sessionS)} " +
      s"workload_s=${"%.3f".format(workloadS)} profile_s=${"%.3f".format(profileS)}")
    (e2e ++ layer).foreach { case (k, (v, u)) => println(f"  $k%-44s $v%14.4f $u") }
    out.info.foreach { case (k, v) => println(f"  info.$k%-39s $v") }
    host.foreach { case (k, v) => println(f"  host.$k%-39s $v") }
    out.failures.foreach(f => println(s"  FAILED: $f"))

    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "result.json"),
      Json.obj("workload" -> w.name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "cores" -> cores, "session_start_s" -> sessionS,
        "host" -> host, "info" -> out.info, "failures" -> out.failures,
        "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "per_layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "op_ms" -> out.opMs, "read_ms" -> out.readMs, "setup_s" -> out.setupS) + "\n")
    if (trace) tracer.write(java.nio.file.Paths.get(dir, "spans.jsonl"))
    println(Json.obj("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> failed, "metrics" -> shown.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }))
    System.out.flush()
    // the run's scratch directory is removed by the caller, so Spark's
    // shutdown hooks have nothing left to do; skip them
    Runtime.getRuntime.halt(0)
  }

  /** End-to-end metrics gated by the benchmark definition. */
  val Gated: Set[String] = Set("setup_s", "op_p50_ms", "peak_rss_mb")

  def endToEnd(o: Outcome, rssMb: Double): ListMap[String, (Double, String)] = {
    val (tailP, tailV) = Stats.tail(o.opMs)
    val base = ListMap(
      "setup_s" -> (Stats.median(o.setupS), "s"),
      "op_p50_ms" -> (Stats.median(o.opMs), "ms"),
      "op_tail_ms" -> (tailV, "ms"),
      "op_tail_pct" -> (tailP.toDouble, "percentile"),
      "op_count" -> (o.opMs.size.toDouble, "count"),
      "total_s" -> (o.measuredS, "s"),
      "rows_per_s" -> (o.rowsApplied / o.measuredS, "rows/s"),
      "growth_ratio" -> (Stats.growthRatio(o.opMs), "ratio"),
      "error_rate" -> (o.failures.size.toDouble / o.attempted.max(1), "ratio"),
      "peak_rss_mb" -> (rssMb, "MB"))
    val reads =
      if (o.readMs.isEmpty) ListMap.empty
      else ListMap("read_p50_ms" -> (Stats.median(o.readMs), "ms"),
        "read_tail_ms" -> (Stats.tail(o.readMs)._2, "ms"))
    base ++ reads
  }

  /** The per-layer metrics of the traced run, by name and unit. Every
    * workload reports all of them; a layer the workload does not reach
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_active_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms", "spark.task_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.output_records" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "fs.open" -> "count", "fs.list" -> "count", "fs.create" -> "count",
    "fs.rename" -> "count", "fs.delete" -> "count",
    "fs.manifest_open" -> "count",
    "logstore.claim" -> "count", "logstore.claim_lost" -> "count",
    "logstore.publish" -> "count", "logstore.overwrite" -> "count",
    "pipeline.read_extract_ms" -> "ms", "cdcstream.merge_ms" -> "ms",
    "cdcstream.log_commit_ms" -> "ms", "cdcstream.cow_apply_ms" -> "ms",
    "cdcstream.state_as_of_batch_ms" -> "ms",
    "snapshot.versions_ms" -> "ms", "snapshot.last_batch_ms" -> "ms",
    "snapshot.commit_batch_ms" -> "ms", "snapshot.merge_batch_ms" -> "ms",
    "snapshot.changes_between_construct_ms" -> "ms",
    "snapshot.changes_between_action_ms" -> "ms",
    "snapshot.read_asof_construct_ms" -> "ms",
    "snapshot.read_asof_action_ms" -> "ms",
    "snapshot.manifest_files" -> "count",
    "fs.manifest_open_per_append_early" -> "count",
    "fs.manifest_open_per_append_late" -> "count",
    "fs.manifest_open_per_merge_early" -> "count",
    "fs.manifest_open_per_merge_late" -> "count",
    "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms",
    "trace.overhead_pct" -> "%", "trace.step_coverage_pct" -> "%",
    "baseline.local1_op_p50_ms" -> "ms")

  /** Per op over the traced ops: the mean of every counter delta and of
    * every span's self time (spans named as the layer call they time),
    * then the workload's own layer figures. Figures outside [[PerLayer]]
    * are printed but not part of the result line. */
  def perLayer(o: Outcome, tracer: Tracer): ListMap[String, (Double, String)] = {
    val n = o.perOp.size.max(1).toDouble
    val counters = o.perOp.flatMap(_.keySet).distinct.sorted.map { k =>
      k -> o.perOp.map(_.getOrElse(k, 0.0)).sum / n
    }
    val spans = tracer.selfTimes.toSeq.filter(_._1 != "op")
      .map { case (s, (_, _, self)) => s"${s}_ms" -> self / n }
    val all = (counters ++ spans ++ o.layerExtra).toMap
    val units = PerLayer.toMap
    ListMap(PerLayer.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) } ++
      all.toSeq.sorted.filterNot(kv => units.contains(kv._1))
        .map { case (k, v) => k -> (v, "") }: _*)
  }
}
