package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The metric names the benchmark prints, in order, with their units. */
object Metrics {
  type M = mutable.LinkedHashMap[String, (Double, String)]

  def e2e(setupS: Double, wallS: Double, rowsPerS: Double, latencyP50Ms: Double,
      heapLiveMb: Double): M = mutable.LinkedHashMap(
    "setup_s" -> (setupS, "s"), "wall_s" -> (wallS, "s"),
    "rows_per_s" -> (rowsPerS, "rows/s"), "latency_p50_ms" -> (latencyP50Ms, "ms"),
    "heap_live_mb" -> (heapLiveMb, "MB"))

  val perLayerUnits: Seq[(String, String)] = Seq(
    "sources.read_call_ms" -> "ms", "sources.files_read" -> "count",
    "sources.bytes_read" -> "bytes", "sources.rows_read" -> "rows",
    "sources.rows_selected" -> "rows", "sources.selectivity" -> "ratio",
    "ztbus.build_ms" -> "ms") ++
    Lake.Frames.map(f => s"ztbus.${f}_s" -> "s") ++ Seq(
    "ztbus.jobs" -> "count", "ztbus.exchanges" -> "count",
    "sinks.write_s" -> "s", "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.codegen_stages" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.single_task_stages" -> "count", "exec.task_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.scheduler_delay_s" -> "s", "exec.parallel_efficiency" -> "ratio",
    "exec.stage_skew_max" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_memory_bytes" -> "bytes",
    "shuffle.spill_disk_bytes" -> "bytes",
    "jvm.gc_task_s" -> "s", "jvm.gc_driver_s" -> "s", "jvm.heap_after_gc_peak_mb" -> "MB") ++
    Replay.Faces.map(f => s"streaming.batches_$f" -> "count") ++ Seq(
    "streaming.rows_per_batch_p50" -> "rows", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
    "streaming.watermark_lag_ms" -> "ms", "streaming.backlog_ticks_end" -> "ticks",
    "statestore.rows_total" -> "rows", "statestore.memory_bytes" -> "bytes",
    "statestore.commit_ms" -> "ms", "statestore.rocksdb_file_sync_ms" -> "ms",
    "statestore.rocksdb_snapshot_zip_ms" -> "ms", "statestore.timers_registered" -> "count",
    "statestore.timers_deleted" -> "count", "statestore.timers_expired" -> "count",
    "generator.late_ms_max" -> "ms",
    "latency_tail_ms" -> "ms", "latency_tail_pct" -> "pct", "latency_samples" -> "count",
    "ref.local1_wall_s" -> "s", "ref.speedup_vs_local1" -> "ratio") ++
    Layers.Names.map(l => s"self.${l}_s" -> "s") ++ Seq(
    "trace.overhead_s" -> "s", "trace.spans" -> "count", "failed_share" -> "ratio")

  /** Every per-layer metric in the canonical order; a layer the workload
    * does not touch reads 0. */
  def perLayer(got: M): M = {
    val unknown = got.keySet -- perLayerUnits.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    mutable.LinkedHashMap(perLayerUnits.map { case (k, u) =>
      k -> (got.get(k).map(_._1).getOrElse(0.0), u) }: _*)
  }
}

/** Roll-ups of the collectors and spans of one traced window into per-layer
  * metrics, each divided by the number of units of work in the window. */
object Layers {
  def empty: Metrics.M = mutable.LinkedHashMap.empty

  /** Span-name prefix → layer. */
  val Names = Seq("sources", "ztbus", "sinks", "streaming", "catalyst", "exec")
  def layerOf(span: String): Option[String] = span.takeWhile(_ != '.') match {
    case "sink" => Some("sinks")
    case "stream" => Some("streaming")
    case "job" | "stage" => Some("exec")
    case p if Names.contains(p) => Some(p)
    case _ => None
  }

  private def inWin(ms: Double, t0: Double, t1: Double) = ms >= t0 && ms <= t1

  /** The benchmark's spans plus one span per listener-observed job (child of
    * the span active when it started), stage (child of its job) and
    * Catalyst phase (child of the innermost span around it). */
  def withListenerSpans(tr: Tracer, col: Collectors): Seq[Span] = {
    val own = tr.all
    val jobSpan = col.jobs.jobs.asScala.map { case (id, j) => id -> tr.nextId() }
    val jobs = col.jobs.jobs.asScala.toSeq.map { case (id, j) =>
      Span(jobSpan(id), j.span, s"job.$id", j.submitMs.toDouble, j.endMs.toDouble,
        Map("stages" -> j.stageIds.size))
    }
    val stages = col.jobs.stages.asScala.values.toSeq.filter(s => jobSpan.contains(s.jobId)).map { s =>
      Span(tr.nextId(), jobSpan(s.jobId), s"stage.${s.stageId}", s.submitMs.toDouble,
        s.endMs.toDouble, Map("tasks" -> s.numTasks, "task_ms" -> s.agg.taskMs))
    }
    def around(ms: Double): Long = own.filter(s => s.startMs <= ms && s.endMs >= ms)
      .sortBy(_.durMs).headOption.map(_.id).getOrElse(0L)
    val phases = col.qes.recs.asScala.toSeq.flatMap { q =>
      val parent = around(q.startMs.toDouble)
      q.phases.map { case (p, a, b) =>
        Span(tr.nextId(), parent, s"catalyst.$p", a.toDouble, b.toDouble, Map("func" -> q.func))
      }
    }
    (own ++ jobs ++ stages ++ phases).sortBy(_.startMs)
  }

  /** Catalyst, exec, shuffle, jvm and self-time metrics of [t0, t1]. */
  def rollup(ctx: Ctx, col: Collectors, spans: Seq[Span], t0: Double, t1: Double,
      units: Int, gcDriverS: Double): Metrics.M = {
    val u = math.max(units, 1).toDouble
    val qes = col.qes.recs.asScala.toSeq.filter(q => inWin(q.startMs, t0, t1))
    val jobs = col.jobs.jobs.asScala.values.toSeq.filter(j => inWin(j.submitMs, t0, t1))
    val stages = col.jobs.stages.asScala.values.toSeq.filter(s => inWin(s.submitMs, t0, t1))
    val aggs = stages.map(_.agg)
    def sumA(f: StageAgg => Double) = aggs.map(f).sum
    val skew = stages.filter(_.agg.durations.size >= 2).map { s =>
      val med = Stats.median(s.agg.durations.toSeq)
      if (med > 0) s.agg.durations.max / med else 1.0
    }
    val self = Tracer.selfTimes(spans)
    val inWindow = spans.filter(s => inWin(s.startMs, t0, t1))
    val selfBy = inWindow.flatMap(s => layerOf(s.name).map(_ -> self(s.id)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val wallS = (t1 - t0) / 1000.0
    mutable.LinkedHashMap[String, (Double, String)](
      "catalyst.analysis_ms" -> (qes.map(_.phaseMs("analysis")).sum / u, "ms"),
      "catalyst.optimization_ms" -> (qes.map(_.phaseMs("optimization")).sum / u, "ms"),
      "catalyst.planning_ms" -> (qes.map(_.phaseMs("planning")).sum / u, "ms"),
      "catalyst.codegen_stages" -> (qes.map(_.codegenStages).sum / u, "count"),
      "exec.jobs" -> (jobs.size / u, "count"),
      "exec.stages" -> (stages.size / u, "count"),
      "exec.tasks" -> (sumA(_.tasks.toDouble) / u, "count"),
      "exec.single_task_stages" -> (stages.count(_.numTasks == 1) / u, "count"),
      "exec.task_s" -> (sumA(_.taskMs) / 1000 / u, "s"),
      "exec.task_cpu_s" -> (sumA(_.cpuNs) / 1e9 / u, "s"),
      "exec.scheduler_delay_s" -> (sumA(_.schedDelayMs) / 1000 / u, "s"),
      "exec.parallel_efficiency" -> (sumA(_.taskMs) / 1000 / (wallS * ctx.cores), "ratio"),
      "exec.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max, "ratio"),
      "shuffle.write_bytes" -> (sumA(_.shuffleWrite.toDouble) / u, "bytes"),
      "shuffle.read_bytes" -> (sumA(_.shuffleRead.toDouble) / u, "bytes"),
      "shuffle.fetch_wait_ms" -> (sumA(_.fetchWaitMs.toDouble) / u, "ms"),
      "shuffle.spill_memory_bytes" -> (sumA(_.spillMem.toDouble) / u, "bytes"),
      "shuffle.spill_disk_bytes" -> (sumA(_.spillDisk.toDouble) / u, "bytes"),
      "jvm.gc_task_s" -> (sumA(_.gcMs) / 1000 / u, "s"),
      "jvm.gc_driver_s" -> (gcDriverS / u, "s"),
      "trace.spans" -> (spans.size.toDouble, "count")) ++
      Names.map(l => s"self.${l}_s" -> (selfBy.getOrElse(l, 0.0) / 1000 / u, "s"))
  }

  private def spanSum(spans: Seq[Span], name: String) =
    spans.filter(_.name == name).map(_.durMs).sum

  /** The sources, ztbus and sinks layers of a batch window. */
  def lake(spans: Seq[Span], col: Collectors, t0: Double, t1: Double, units: Int,
      exp: Lake.Expect, files: (Long, Long)): Metrics.M = {
    val u = math.max(units, 1).toDouble
    val qes = col.qes.recs.asScala.toSeq.filter(q => inWin(q.startMs, t0, t1))
    val jobs = col.jobs.jobs.asScala.values.toSeq.filter(j => inWin(j.submitMs, t0, t1))
    val stages = col.jobs.stages.asScala.values.toSeq.filter(s => inWin(s.submitMs, t0, t1))
    val scans = qes.map(_.scans).sum
    val rowsRead = if (scans > 0) qes.map(_.scanRows).sum.toDouble / scans else 0.0
    val selected = if (scans > 0) exp.rowsInRange.toDouble else 0.0
    val sinkS = Lake.Frames.map(f => spanSum(spans, s"sink.$f")).sum / 1000 / u
    mutable.LinkedHashMap[String, (Double, String)](
      "sources.read_call_ms" -> (spanSum(spans, "sources.read") / u, "ms"),
      "sources.files_read" -> (qes.map(_.scanFiles).sum / u, "count"),
      "sources.bytes_read" -> (qes.map(_.scanBytes).sum / u, "bytes"),
      "sources.rows_read" -> (rowsRead, "rows"),
      "sources.rows_selected" -> (selected, "rows"),
      "sources.selectivity" -> (if (rowsRead > 0) selected / rowsRead else 0.0, "ratio"),
      "ztbus.build_ms" -> (spanSum(spans, "ztbus.batchRun") / u, "ms")) ++
      Lake.Frames.map(f => s"ztbus.${f}_s" -> (spanSum(spans, s"sink.$f") / 1000 / u, "s")) ++
      Seq("ztbus.jobs" -> (jobs.count(_.span != 0) / u, "count"),
        "ztbus.exchanges" -> (qes.map(_.exchanges).sum / u, "count"),
        "sinks.write_s" -> (sinkS, "s"),
        "sinks.bytes_written" -> (stages.map(_.agg.bytesWritten).sum / u, "bytes"),
        "sinks.files_written" -> (files._1.toDouble, "count"))
  }
}
