package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Sources}
import graft.ztbus.Engine

/** `ztbus-lake-backfill`: a seeded fleet written to a date-partitioned lake
  * during setup; each timed rep reads a multi-day range back through
  * `Sources`, runs `Engine.batchRun` and writes every `BatchResults` frame
  * (results through `Sinks.writeResults`, the rest as parquet). A closed
  * loop with one caller. */
object Lake {

  /** Frames of `BatchResults`, in the order they are written. */
  val Frames = Seq("active_buses", "metrics", "results", "halt_sessions",
    "park_sessions", "session_stats")

  val Buses = 8
  val TripsPerDay = 2
  val Days = 5
  /** Warm reps before timing. A second one would settle the JIT further,
    * but a full comparison (48 runs of the two workloads and two builds)
    * must finish within 3420 s. */
  val WarmReps = 1

  /** What the input says the outputs must add up to. */
  final case class Expect(rowsInRange: Long, minutes: Long, haltRows: Long, parkRows: Long)

  def expect(in: DataFrame, from: Timestamp, to: Timestamp): Expect = {
    val r = in.where(col("time") >= lit(from) && col("time") < lit(to)).agg(
      count(lit(1)), countDistinct(floor(unix_seconds(col("time")) / 60)),
      count_if(col("status_halt_brake_is_active")),
      count_if(col("status_park_brake_is_active"))).head()
    Expect(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** One rep: wall seconds, per-frame seconds and observations
    * (rows, rounded digest, invariant sum), and errors. */
  final case class Rep(wallS: Double, frameS: Map[String, Double],
      obs: Map[String, (Long, Long, Long)], errors: Seq[String])

  /** A frame observed in the job that writes it: row count, rounded digest
    * and the frame's invariant sum. */
  private def observed(name: String, df: DataFrame): (DataFrame, Observation) = {
    val ob = Observation(name)
    val extra = name match {
      case "metrics" => sum(col("total_s"))
      // 1 Hz samples without gaps: a run's sample count is its span + 1 s
      case "halt_sessions" | "park_sessions" =>
        sum(unix_seconds(col("time_to")) - unix_seconds(col("time_from")) + 1)
      case _ => lit(0L)
    }
    (df.observe(ob, count(lit(1)).as("n"), Gen.digestCols(df).cast("long").as("digest"),
      coalesce(extra.cast("long"), lit(0L)).as("extra")), ob)
  }

  /** Invariant checks of one rep; returns the failing outputs. */
  def failures(rep: Rep, e: Expect): Seq[String] = {
    def n(f: String) = rep.obs.get(f).map(_._1).getOrElse(-1L)
    def x(f: String) = rep.obs.get(f).map(_._3).getOrElse(-1L)
    val sessions = n("halt_sessions") + n("park_sessions")
    Seq(
      "active_buses" -> (n("active_buses") == e.minutes),
      "metrics" -> (x("metrics") == e.rowsInRange && n("metrics") > 0),
      "results" -> (n("results") == 5 * n("metrics")),
      "halt_sessions" -> (x("halt_sessions") == e.haltRows),
      "park_sessions" -> (x("park_sessions") == e.parkRows),
      "session_stats" -> (n("session_stats") == 16 * sessions))
      .collect { case (f, false) => f } ++ rep.errors.map(_.takeWhile(_ != ':'))
  }.distinct

  /** Runs `one` until `seconds` have passed, at least `min` times. */
  def loop[T](seconds: Double, min: Int)(one: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.Buffer.empty[T]
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) out += one
    out.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val specs = Gen.fleet(ctx.args.seed, Buses, TripsPerDay, Days)
    val day0 = Timestamp.valueOf(Gen.Epoch.toLocalDateTime.toLocalDate.atStartOfDay)
    // three of the five lake days
    val from = new Timestamp(day0.getTime + 86400000L)
    val to = new Timestamp(day0.getTime + 4 * 86400000L)
    val tripsPath = s"${ctx.dir}/trips"
    Gen.tripsDF(spark, specs).write.mode("overwrite").parquet(tripsPath)
    val gen = Gen.telemetry(spark, ctx.args.seed, specs)
    val (lakeS, lake) = Stats.repeated(Main.SetupReps) { i =>
      val path = s"${ctx.dir}/lake-$i"
      Sinks.writeTelemetry(gen, path); path
    }
    val exp = expect(Sources.telemetry(spark, lake).toDF(), from, to)
    val input = gen.agg(count(lit(1)), Gen.digestCols(gen).cast("long")).head()
    val inputDigest = s"${input.getLong(0)}:${input.getLong(1)}"
    var outN = 0

    def rep(s: SparkSession, tr: Tracer): Rep = {
      outN += 1
      val out = s"${ctx.dir}/out/$outN"
      val t0 = System.nanoTime()
      val errors = mutable.Buffer.empty[String]
      val frameS = mutable.LinkedHashMap.empty[String, Double]
      val obs = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
      try {
        val tel = tr.span("sources.read") {
          val lakeDf = Sources.telemetry(s, lake).toDF()
          Sources.readTelemetry(lakeDf, lakeDf.columns.filterNot(_ == "date").toSeq,
            timeFrom = Some(from), timeTo = Some(new Timestamp(to.getTime - 1)))
        }
        val trips = Sources.trips(s, tripsPath).toDF()
        val r = tr.span("ztbus.batchRun")(Engine.batchRun(tel, trips, from, to))
        Frames.zip(Seq(r.activeBuses, r.metrics, r.results, r.haltSessions,
            r.parkSessions, r.sessionStats)).foreach { case (name, df) =>
          val f0 = System.nanoTime()
          try {
            val (o, ob) = observed(name, df)
            tr.span(s"sink.$name") {
              if (name == "results") Sinks.writeResults(o, s"$out/$name")
              else o.write.mode("overwrite").parquet(s"$out/$name")
            }
            val m = ob.get
            obs(name) = (m("n").asInstanceOf[Long], m("digest").asInstanceOf[Long],
              m("extra").asInstanceOf[Long])
          } catch { case e: Exception => errors += s"$name: $e" }
          frameS(name) = (System.nanoTime() - f0) / 1e9
        }
      } catch { case e: Exception => errors += s"batchRun: $e" }
      Rep((System.nanoTime() - t0) / 1e9, frameS.toMap, obs.toMap, errors.toSeq)
    }

    val off = new Tracer(spark.sparkContext, enabled = false)
    val warm = Seq.fill(WarmReps)(rep(spark, off))
    val setupS = ctx.sessionS + lakeS + warm.map(_.wallS).sum
    ctx.log(f"lake-backfill setup ${setupS}%.2f s (session ${ctx.sessionS}%.2f, lake write " +
      f"${lakeS}%.2f, warm reps ${warm.map(_.wallS).mkString(", ")})")
    val gc = new GcWatch
    ctx.onStop(gc.close())
    val secs = ctx.args.seconds.toDouble
    gc.start()
    val plain = loop(if (ctx.args.trace) secs / 2 else secs, 2)(rep(spark, off))
    val heapMb = gc.stopPeakMb()
    val liveMb = gc.liveMb()
    val wall = Stats.median(plain.map(_.wallS))
    var traced = Seq.empty[Rep]
    var layers = Layers.empty
    var spans = Seq.empty[Span]
    if (ctx.args.trace) {
      val col = new Collectors(spark)
      val tr = new Tracer(spark.sparkContext, enabled = true)
      val gc0 = gc.gcSeconds
      val t0 = Clock.nowMs
      traced = loop(secs / 2, 1)(tr.span("rep")(rep(spark, tr)))
      val t1 = Clock.nowMs
      col.drain()
      spans = Layers.withListenerSpans(tr, col)
      layers = Layers.rollup(ctx, col, spans, t0, t1, traced.size, gc.gcSeconds - gc0)
      layers ++= Layers.lake(spans, col, t0, t1, traced.size, exp,
        Io.dataFiles(s"${ctx.dir}/out/$outN"))
      col.close()
      // one more untraced rep brackets the traced ones, so that the JIT
      // still warming up does not read as negative overhead
      traced :+= rep(spark, off)
      layers += "trace.overhead_s" -> (Stats.median(traced.init.map(_.wallS)) -
        (wall + traced.last.wallS) / 2, "s")
    }
    val all = warm ++ plain ++ traced
    val fails = all.map(failures(_, exp))
    val attempted = all.size.toLong * Frames.size
    val failed = fails.map(_.size.toLong).sum
    val digests = all.map(_.obs.map { case (k, (n, d, _)) => k -> s"$n:$d" })
    val recorded = (digests.head + ("input" -> inputDigest)).toSeq.sortBy(_._1).map { case (k, d) =>
      s"digest.$k" -> Digests.check("ztbus-lake-backfill", ctx.args.seed, k, d) }
    val conf = Provenance.capture(spark)
    if (ctx.args.trace) {
      // single-core reference: the same lake, one rep at local[1], not gated
      spark.stop()
      val s1 = Main.session(1, new File(ctx.args.work).getAbsolutePath)
      val r1 = try rep(s1, off) finally s1.stop()
      layers ++= Seq("ref.local1_wall_s" -> (r1.wallS, "s"),
        "ref.speedup_vs_local1" -> (r1.wallS / wall, "ratio"))
    }
    // a request is one rep: its latency is its wall time
    val repMs = plain.map(_.wallS * 1000)
    val tail = Stats.tail(repMs)
    layers ++= Seq("latency_tail_ms" -> (tail._2, "ms"), "latency_tail_pct" -> (tail._1, "pct"),
      "latency_samples" -> (repMs.size.toDouble, "count"),
      "jvm.heap_after_gc_peak_mb" -> (heapMb, "MB"),
      "failed_share" -> (failed.toDouble / attempted, "ratio"))
    val e2e = Metrics.e2e(setupS, wall, exp.rowsInRange / wall, Stats.median(repMs), liveMb)
    Outcome(if (ctx.args.trace) Metrics.perLayer(layers) else e2e, attempted, failed,
      Seq("outputs_deterministic" -> digests.forall(_ == digests.head)) ++
        recorded.collect { case (k, Some(ok)) => k -> ok } ++
        fails.zipWithIndex.flatMap { case (f, i) => f.map(x => s"rep$i.$x" -> false) },
      Map("trips" -> specs.size, "lake_days" -> Days, "rows_written" -> specs.map(_.seconds).sum,
        "expect" -> exp.toString, "reps" -> plain.map(_.wallS),
        "traced_reps" -> traced.map(_.wallS), "frame_s" -> plain.map(_.frameS),
        "digests" -> digests.head, "digests_unrecorded" -> recorded.count(_._2.isEmpty),
        "errors" -> all.flatMap(_.errors)),
      spans, conf)
  }
}
