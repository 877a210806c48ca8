package perfbench

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.Streaming
import graft.ztbus.{Algorithms, Telemetry}

/** `ztbus-stream-replay`: a live fleet replayed as minute ticks through
  * the three ZTBus stream faces, each on its own `MemoryStream` with a
  * `noop` sink and a checkpoint.
  *
  *  - open loop: a generator thread appends one tick per wall second (the
  *    reference's 60× clock) on a schedule that never waits for the engine;
  *    a tick's latency runs from when it was due until all three queries
  *    have committed a batch whose end offset covers it;
  *  - drain: a fixed backlog of ticks is appended at once and timed until
  *    every query has caught up.
  * Afterwards (untimed) a far-future sample closes every window and session
  * and the stream outputs are compared with the batch operators. */
object Replay {

  val Faces = Seq("full_metrics", "session_stats", "sessionize")
  val FleetTrips = 12
  val WarmTicks = 2
  val DrainTicks = 6
  val DrainRounds = 3

  /** Waits until no query runs a trigger or has data pending, seen twice
    * in a row (a watermark-only batch may follow a data batch). */
  def awaitIdle(qs: Seq[StreamingQuery], timeoutS: Double = 60): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      quiet = if (qs.forall(q => !q.status.isTriggerActive && !q.status.isDataAvailable))
        quiet + 1 else 0
      Thread.sleep(25)
    }
  }

  val Sentinel = 99L
  private val Halt = "status_halt_brake_is_active"

  /** Observed per batch on the stream side and once on the batch side:
    * (rows, rounded digest, invariant sum), sentinel rows excluded. */
  private def metricsObs: Seq[Column] = {
    val keep = col("trip_id") =!= Sentinel
    val d = xxhash64(col("minute"), col("trip_id"), round(col("kwh"), 6),
      round(col("dist_m"), 6), round(col("passenger_m"), 6), col("dwell_time_s"),
      col("total_s")).bitwiseAND(lit(0xffffffffL))
    Seq(count_if(keep).as("n"), coalesce(sum(when(keep, d)), lit(0L)).as("digest"),
      coalesce(sum(when(keep, col("total_s"))), lit(0L)).as("extra"))
  }

  private def sessionObs(n: String, only: Column = lit(true)): Seq[Column] = {
    val keep = col("trip_id") =!= Sentinel && only
    val d = xxhash64(col("trip_id"), unix_millis(col("time_from")),
      unix_millis(col("time_to")), col(n)).bitwiseAND(lit(0xffffffffL))
    Seq(count_if(keep).as("n"), coalesce(sum(when(keep, d)), lit(0L)).as("digest"),
      coalesce(sum(when(keep, col(n))), lit(0L)).as("extra"))
  }

  private val statsOne = col("column") === "electric_power_demand" && col("stat") === "mean"

  private def obsTotals(ps: Seq[StreamingQueryProgress], face: String): (Long, Long, Long) =
    ps.flatMap(p => Option(p.observedMetrics.get(face))).foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), r) => (a + r.getLong(0), b + r.getLong(1), c + r.getLong(2))
    }

  private def endOffset(p: StreamingQueryProgress): Long =
    scala.util.Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)
  private def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
  private def startMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    implicit val s: SparkSession = spark
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val openTicks = ctx.args.seconds
    val minutes = WarmTicks + openTicks + DrainRounds * DrainTicks
    val specs = Gen.liveFleet(ctx.args.seed, FleetTrips, minutes)
    val tripsDf = Gen.tripsDF(spark, specs).cache()
    tripsDf.count()

    // setup: generate the replay (repeated, median), then start and warm
    // the three queries
    val (genS, ticks) = Stats.repeated(Main.SetupReps) { _ =>
      val rows = Gen.telemetry(spark, ctx.args.seed, specs).as[Telemetry].collect()
      val byTick = rows.groupBy(t => ((t.time.getTime - Gen.Epoch.getTime) / 60000L).toInt)
      (0 until minutes).map(i => byTick.getOrElse(i, Array.empty[Telemetry])
        .sortBy(t => (t.time.getTime, t.trip_id)).toSeq)
    }
    val t0Queries = System.nanoTime()
    val col = new Collectors(spark, full = ctx.args.trace)
    ctx.onStop(col.close())
    val inFull = MemoryStream[Telemetry]
    val inStats = MemoryStream[Telemetry]
    val inSess = MemoryStream[Streaming.FlagSample]
    def flags(ts: Seq[Telemetry]) =
      ts.map(t => Streaming.FlagSample(t.trip_id, t.time, t.status_halt_brake_is_active))
    def start(name: String, df: DataFrame): StreamingQuery = {
      val q = df.writeStream.format("noop").outputMode("append").queryName(name)
        .option("checkpointLocation", s"${ctx.dir}/ckpt-$name").start()
      ctx.onStop(q.stop())
      q
    }
    val full = Streaming.fullMetricsStream(inFull.toDS(), Some(tripsDf)).toDF()
    val stats = Streaming.sessionStatsStream(inStats.toDS(), Halt).toDF()
    val sess = Streaming.sessionize(inSess.toDS()).toDF()
    val qs = Seq(
      start("full_metrics", full.observe("full_metrics", metricsObs.head,
        metricsObs.tail: _*)),
      start("session_stats", stats.observe("session_stats",
        sessionObs("n_samples", statsOne).head, sessionObs("n_samples", statsOne).tail: _*)),
      start("sessionize", sess.observe("sessionize", sessionObs("n_samples").head,
        sessionObs("n_samples").tail: _*)))
    // each append goes to all three sources; returns their end offsets
    def append(ts: Seq[Telemetry]): Seq[Long] = Seq(
      inFull.addData(ts), inStats.addData(ts), inSess.addData(flags(ts)))
      .map(o => o.json.trim.toLong)
    def catchUp(): Unit = qs.foreach(_.processAllAvailable())
    (0 until WarmTicks).foreach { i => append(ticks(i)); catchUp() }
    val warmS = (System.nanoTime() - t0Queries) / 1e9
    val setupS = ctx.sessionS + genS + warmS
    ctx.log(f"stream-replay setup ${setupS}%.2f s (session ${ctx.sessionS}%.2f, " +
      f"generation ${genS}%.2f, query start and warm-up ${warmS}%.2f)")

    // open loop: one tick per second on a fixed schedule
    val gc = new GcWatch
    ctx.onStop(gc.close())
    gc.start()
    val due = new Array[Double](openTicks)
    val late = new Array[Double](openTicks)
    val offsets = new Array[Seq[Long]](openTicks)
    val tracer = new Tracer(spark.sparkContext, ctx.args.trace)
    val traceFrom = if (ctx.args.trace) openTicks / 2 else openTicks
    @volatile var traceT0 = Double.NaN
    @volatile var gcAtTrace = 0.0
    val gen = new Thread(() => {
      val t0 = Clock.nowMs + 200
      (0 until openTicks).foreach { i =>
        due(i) = t0 + i * 1000.0
        val wait = due(i) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (i == traceFrom) { traceT0 = due(i); gcAtTrace = gc.gcSeconds }
        late(i) = Clock.nowMs - due(i)
        offsets(i) = append(ticks(WarmTicks + i))
      }
    }, "perfbench-tick-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val openEnd = Clock.nowMs
    catchUp()

    // drain: a fixed backlog appended at once to idle queries, timed until
    // all three have committed it; repeated, median reported
    val drains = (0 until DrainRounds).map { d =>
      awaitIdle(qs)
      val backlog = (0 until DrainTicks).flatMap(i =>
        ticks(WarmTicks + openTicks + d * DrainTicks + i))
      val d0 = System.nanoTime()
      append(backlog)
      catchUp()
      (backlog.size, (System.nanoTime() - d0) / 1e9)
    }
    val drainS = Stats.median(drains.map(_._2))
    val drainRows = drains.head._1
    val heapMb = gc.stopPeakMb()
    val liveMb = gc.liveMb()
    val gcTracedS = gc.gcSeconds - gcAtTrace
    val traceT1 = Clock.nowMs
    ctx.log(f"stream-replay drains of ~$drainRows rows: ${drains.map(_._2).mkString(", ")} s")

    // untimed: close every window and session, wait for every progress
    // event, then compare with the batch operators
    val last = ticks.flatten.maxBy(_.time.getTime)
    Seq(7200, 7201).foreach { sec =>
      append(Seq(last.copy(id = 999999000L + sec, trip_id = Sentinel,
        time = new Timestamp(last.time.getTime + sec * 1000L),
        status_halt_brake_is_active = false)))
      catchUp()
    }
    val finalOff = qs.map(q => endOffset(q.lastProgress))
    val deadline = System.nanoTime() + 60e9
    def complete = Faces.zip(finalOff).forall { case (f, o) => col.streams.of(f).exists(endOffset(_) >= o) }
    while (!complete && System.nanoTime() < deadline) { col.drain(); if (!complete) Thread.sleep(20) }
    col.drain()
    val prog = Faces.map(f => f -> col.streams.of(f)).toMap

    // tick latency: due → committed by all three queries
    def committed(face: Int, off: Long): Option[Double] =
      prog(Faces(face)).filter(p => endOffset(p) >= off).map(commitMs).sortBy(identity).headOption
    val lat = (0 until openTicks).map { i =>
      val c = Faces.indices.map(f => committed(f, offsets(i)(f)))
      if (c.forall(_.isDefined)) Some(c.flatten.max - due(i)) else None
    }
    val latencies = lat.flatten
    val latPlain = lat.take(traceFrom).flatten
    // backlog when the open loop ends: ticks appended but not committed by
    // the slowest query
    val backlogEnd = Faces.indices.map { f =>
      val done = prog(Faces(f)).filter(p => commitMs(p) <= openEnd).map(endOffset)
        .foldLeft(-1L)(math.max)
      offsets.count(o => o(f) > done)
    }.max

    // stream against batch, on the whole replay
    val input = ticks.flatten.toDS().toDF()
    def batchObs(df: DataFrame, obs: Seq[Column]): (Long, Long, Long) = {
      val r = df.agg(obs.head, obs.tail: _*).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val bm = batchObs(Algorithms.perMinuteMetrics(input, tripsDf), metricsObs)

    val bs = batchObs(Algorithms.brakeSessions(input, Halt), sessionObs("n_samples"))
    val got = Faces.map(f => f -> obsTotals(prog(f), f)).toMap
    val parity = Seq(
      "full_metrics_equals_batch" -> (got("full_metrics") == bm && bm._1 > 0),
      "session_stats_bounds_equal_batch" -> (got("session_stats") == bs && bs._1 > 0),
      "sessionize_equals_batch" -> (got("sessionize") == bs))
    val totalRows = bm._3
    val inputDigest = batchObs(input, Seq(count(lit(1)), Gen.digestCols(input).cast("long"), lit(0L)))
    val recorded = Seq("input" -> s"${inputDigest._1}:${inputDigest._2}",
      "full_metrics" -> s"${bm._1}:${bm._2}", "sessions" -> s"${bs._1}:${bs._2}").map {
      case (k, d) => s"digest.$k" -> Digests.check("ztbus-stream-replay", ctx.args.seed, k, d) }
    val terminated = col.streams.failed.size + qs.count(q => q.exception.isDefined)
    val uncommitted = lat.count(_.isEmpty)
    val attempted = (Faces.size * (openTicks + DrainRounds * DrainTicks) + parity.size).toLong
    val failed = if (terminated > 0) attempted
      else uncommitted.toLong * Faces.size + parity.count(!_._2)
    val conf = Provenance.capture(spark)
    ctx.log("stream-replay checks done")

    var layers = Layers.empty
    var spans = Seq.empty[Span]
    if (ctx.args.trace) {
      val w0 = traceT0
      val open = Span(tracer.nextId(), 0, "stream.open_loop", due(0), openEnd)
      val tickSpans = (0 until openTicks).filter(i => lat(i).isDefined).map(i =>
        Span(tracer.nextId(), open.id, s"stream.tick.$i", due(i), due(i) + lat(i).get,
          Map("late_ms" -> late(i), "offsets" -> offsets(i))))
      val batchSpans = Faces.flatMap(f => prog(f).map(p => Span(tracer.nextId(), 0,
        s"stream.batch.$f.${p.batchId}", startMs(p), commitMs(p),
        Map("rows" -> p.numInputRows))))
      (Seq(open) ++ tickSpans ++ batchSpans).foreach(tracer.add)
      spans = Layers.withListenerSpans(tracer, col)
      layers = Layers.rollup(ctx, col, spans, w0, traceT1, 1, gcTracedS)
      layers ++= streamLayers(prog, w0, traceT1)
      layers ++= Seq("trace.overhead_s" -> (
        (Stats.median(lat.drop(traceFrom).flatten) - Stats.median(latPlain)) / 1000, "s"))
    }
    val tail = Stats.tail(latencies)
    layers ++= Seq("latency_tail_ms" -> (tail._2, "ms"), "latency_tail_pct" -> (tail._1, "pct"),
      "latency_samples" -> (latencies.size.toDouble, "count"),
      "streaming.backlog_ticks_end" -> (backlogEnd.toDouble, "ticks"),
      "generator.late_ms_max" -> (late.max, "ms"),
      "jvm.heap_after_gc_peak_mb" -> (heapMb, "MB"),
      "failed_share" -> (failed.toDouble / attempted, "ratio"))
    val e2e = Metrics.e2e(setupS, drainS, drainRows / drainS,
      Stats.median(if (ctx.args.trace) latPlain else latencies), liveMb)
    Outcome(if (ctx.args.trace) Metrics.perLayer(layers) else e2e, attempted, failed,
      parity ++ recorded.collect { case (k, Some(ok)) => k -> ok } :+
        ("no_query_terminated" -> (terminated == 0)) :+
        ("every_tick_committed" -> (uncommitted == 0)),
      Map("fleet_trips" -> FleetTrips, "rows_per_tick" -> ticks(WarmTicks).size,
        "open_ticks" -> openTicks, "drain_ticks" -> DrainTicks, "drain_rows" -> drainRows,
        "drain_s" -> drains.map(_._2),
        "tick_latency_ms" -> lat.map(_.getOrElse(Double.NaN)), "late_ms" -> late.toSeq,
        "backlog_ticks_end" -> backlogEnd, "batch_rows" -> totalRows,
        "stream_obs" -> got.map { case (k, v) => k -> v.toString },
        "batch_obs" -> Map("metrics" -> bm.toString, "sessions" -> bs.toString)),
      spans, conf)
  }

  /** Streaming and state-store layers over the progress of [t0, t1]. */
  def streamLayers(prog: Map[String, Seq[StreamingQueryProgress]], t0: Double,
      t1: Double): Metrics.M = {
    val win = prog.map { case (f, ps) => f -> ps.filter(p => startMs(p) >= t0 && startMs(p) <= t1) }
    val all = win.values.flatten.toSeq
    val data = all.filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(data.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    def custom(p: StreamingQueryProgress, k: String) =
      p.stateOperators.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val lastOf = win.values.flatMap(_.lastOption).toSeq
    val lag = data.flatMap { p =>
      val e = p.eventTime.asScala
      for (mx <- e.get("max"); wm <- e.get("watermark"))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli).toDouble
    }
    mutable.LinkedHashMap[String, (Double, String)](
      Faces.map(f => s"streaming.batches_$f" -> (win(f).size.toDouble, "count")): _*) ++ Seq(
      "streaming.rows_per_batch_p50" -> (Stats.median(data.map(_.numInputRows.toDouble)), "rows"),
      "streaming.trigger_ms_p50" -> (dur("triggerExecution"), "ms"),
      "streaming.add_batch_ms_p50" -> (dur("addBatch"), "ms"),
      "streaming.wal_commit_ms_p50" -> (dur("walCommit"), "ms"),
      "streaming.commit_offsets_ms_p50" -> (dur("commitOffsets"), "ms"),
      "streaming.query_planning_ms_p50" -> (dur("queryPlanning"), "ms"),
      "streaming.watermark_lag_ms" -> (Stats.median(lag), "ms"),
      "statestore.rows_total" -> (lastOf.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble, "rows"),
      "statestore.memory_bytes" -> (lastOf.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble, "bytes"),
      "statestore.commit_ms" -> (Stats.median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"),
      "statestore.rocksdb_file_sync_ms" -> (Stats.median(data.map(custom(_, "rocksdbCommitFileSyncLatencyMs"))), "ms"),
      "statestore.rocksdb_snapshot_zip_ms" -> (Stats.median(data.map(custom(_, "rocksdbSaveZipFilesLatencyMs"))), "ms"),
      "statestore.timers_registered" -> (all.map(custom(_, "numRegisteredTimers")).sum, "count"),
      "statestore.timers_deleted" -> (all.map(custom(_, "numDeletedTimers")).sum, "count"),
      "statestore.timers_expired" -> (all.map(custom(_, "numExpiredTimers")).sum, "count"))
  }
}
