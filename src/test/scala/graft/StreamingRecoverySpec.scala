package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streaming
import graft.streaming.Streaming.{FlagSample, SessionOut}

/** Checkpoint-recovery: the sessionizer's keyed state must survive a query
  * restart (the durability the reference hand-rolls with its sim_logs
  * ledger, simulator/main.py:96-101 — here it's the streaming checkpoint). */
class StreamingRecoverySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def sec(base: String, s: Int) =
    new Timestamp(Timestamp.valueOf(base).getTime + s * 1000L)

  private def tel(id: Long, tripId: Long, time: Timestamp,
      speed: Double): graft.ztbus.Telemetry =
    graft.ztbus.Telemetry(id, tripId, time,
      electric_power_demand = 100.0, temperature_ambient = 20.0,
      traction_brake_pressure = 1.0, traction_traction_force = 0.0,
      gnss_altitude = None, gnss_course = None,
      gnss_latitude = None, gnss_longitude = None,
      itcs_bus_route_id = 1, itcs_number_of_passengers = 10,
      itcs_stop_name = "s", odometry_articulation_angle = 0.1,
      odometry_steering_angle = 0.0, odometry_vehicle_speed = speed,
      odometry_wheel_speed_fl = 0.0, odometry_wheel_speed_fr = 0.0,
      odometry_wheel_speed_ml = 0.0, odometry_wheel_speed_mr = 0.0,
      odometry_wheel_speed_rl = 0.0, odometry_wheel_speed_rr = 0.0,
      status_door_is_open = false, status_grid_is_available = true,
      status_halt_brake_is_active = false, status_park_brake_is_active = false)

  /** Runs `fullMetricsStream` over a one-trip speed ramp, stopped and
    * restarted between its two minutes, and checks that accel stays
    * continuous across the restart. The first run sees the session confs
    * `firstRunConf` (restored before the restart); `atRestart` gets the
    * checkpoint dir while the query is down. Returns the checkpoint dir. */
  private def diffStageAcrossRestart(firstRunConf: Map[String, String] = Map.empty,
      atRestart: String => Unit = _ => ()): String = {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val ckpt = Files.createTempDirectory("graft-fm-ckpt").toString
    val out = Files.createTempDirectory("graft-fm-out").toString
    val in = MemoryStream[graft.ztbus.Telemetry]

    def start() = Streaming.fullMetricsStream(in.toDS()).writeStream
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // speed ramps 1.0 m/s per sample: accel is exactly 1.0 everywhere
    // except the trip's first sample (filled 0). If the restart lost the
    // carried (lastSpeed, lastAccel), sample 60 would diff against nothing
    // (accel 0) and minute 2's accel_mean/jerk stats would shift.
    val samples = (0 until 120).map(i =>
      tel(i.toLong, 1L, sec(base, i), speed = i.toDouble))
    val saved = firstRunConf.keys.map(k => k -> spark.conf.get(k))
    firstRunConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q1 = start()
      in.addData(samples.take(60)); q1.processAllAvailable()
      q1.stop()
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    atRestart(ckpt)

    val q2 = start()
    in.addData(samples.drop(60)); q2.processAllAvailable()
    // watermark pushers finalize both minutes
    in.addData(tel(999999L, 99L, sec(base, 7200), 0.0)); q2.processAllAvailable()
    in.addData(tel(999998L, 99L, sec(base, 7201), 0.0)); q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("trip_id") === 1L)
      .select("minute", "accel_mean", "total_s")
      .as[(Timestamp, Double, Long)].collect().sortBy(_._1.getTime)
    assert(got.map(_._1).toSeq ==
      Seq(Timestamp.valueOf("2021-03-09 14:15:00"),
        Timestamp.valueOf("2021-03-09 14:16:00")))
    assert(got.map(_._3).toSeq == Seq(60L, 60L))
    // minute 1: 59 diffs of 1.0 + first-sample fill 0 -> 59/60
    assert(math.abs(got(0)._2 - 59.0 / 60.0) < 1e-12, s"${got(0)}")
    // minute 2: all 60 diffs exist ONLY if sample 59's state survived the
    // restart -> exactly 1.0; a state loss would give 59/60 here too
    assert(got(1)._2 == 1.0,
      s"accel must be continuous across the restart boundary: ${got(1)}")
    ckpt
  }

  test("diff-stage state survives a stop/restart: accel continuous across the boundary") {
    diffStageAcrossRestart()
  }

  test("diff-stage state upgrades from snapshot to changelog commits across a restart") {
    val changelogConf =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert(spark.conf.get(changelogConf) == "true",
      "GraftSession.builder commits RocksDB state as changelogs")
    def changelogs(ckpt: String): Long = {
      val files = Files.walk(java.nio.file.Paths.get(ckpt, "state"))
      try files.filter(_.getFileName.toString.endsWith(".changelog")).count()
      finally files.close()
    }
    val ckpt = diffStageAcrossRestart(Map(changelogConf -> "false"),
      atRestart = c => assert(changelogs(c) == 0,
        "with changelog checkpointing off, every commit is a snapshot"))
    assert(changelogs(ckpt) > 0,
      "the restarted query, on the builder's default, commits changelogs")
  }

  test("open-run state survives a stop/restart from the checkpoint") {
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val inSess = MemoryStream[FlagSample]
    val inStats = MemoryStream[graft.ztbus.Telemetry]
    // both session faces, each with its own sink and checkpoint
    val faces = Seq(
      (() => Streaming.sessionize(inSess.toDS()).toDF(),
        (ts: Seq[graft.ztbus.Telemetry]) => inSess.addData(ts.map(t =>
          FlagSample(t.trip_id, t.time, t.status_halt_brake_is_active)))),
      (() => Streaming.sessionStatsStream(inStats.toDS(),
        "status_halt_brake_is_active").toDF(),
        (ts: Seq[graft.ztbus.Telemetry]) => inStats.addData(ts)))
    val dirs = faces.map(_ => (Files.createTempDirectory("graft-ckpt").toString,
      Files.createTempDirectory("graft-sess-out").toString))
    def feed(ts: Seq[graft.ztbus.Telemetry]): Unit = {
      val qs = faces.zip(dirs).map { case ((df, _), (ckpt, out)) =>
        df().writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt).start()
      }
      faces.foreach(_._2(ts))
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
    }
    def sample(i: Int, flag: Boolean) = tel(i.toLong, 1L, sec(base, i), 1.0)
      .copy(status_halt_brake_is_active = flag)

    // run 1: run open at stop time — state only exists in the checkpoint
    feed((0 to 9).map(sample(_, flag = true)))
    // restart: the closing sample arrives after recovery
    feed(Seq(sample(11, flag = false)))

    // sessionize writes one row per session; sessionStatsStream one per
    // stats column and stat (mean, std, min, max), each carrying the bounds
    val once = SessionOut(1L, sec(base, 0), sec(base, 9), 10L)
    dirs.map(_._2).zip(Seq(1, graft.ztbus.Algorithms.statsColumns.size * 4))
      .foreach { case (out, rows) =>
        val sessions = spark.read.parquet(out)
          .select("trip_id", "time_from", "time_to", "n_samples")
          .as[SessionOut].collect()
        assert(sessions.toSeq == Seq.fill(rows)(once),
          s"$out: one session spanning both runs of the query, emitted once")
      }
  }

  test("repeated-span stream merges one window's docs across a restart") {
    implicit val s = spark
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val base = "2021-03-09 14:15:00"
    val ckpt = Files.createTempDirectory("graft-spans-ckpt").toString
    val out = Files.createTempDirectory("graft-spans-out").toString
    val banner = "all rights reserved by the original publisher"
    val rows = Seq(
      (1L, s"intro words here $banner closing remark", sec(base, 1)),
      (2L, s"different opening text $banner and a tail", sec(base, 20)),
      (3L, "rep a b rep a b rep a b end", sec(base, 30)),
      (4L, "wholly unique document content nothing repeats here", sec(base, 40)))
    val corpus = rows.map(t => (t._1, t._2)).toDF("doc_id", "text")
    val dupH = TextOps.repeatedShingleSet(corpus, col("doc_id"), col("text"), 3)
    val in = MemoryStream[(Long, String, Timestamp)]

    def start() = Streaming.removeRepeatedSpansStream(
      in.toDS().toDF("doc_id", "text", "event_time"), dupH, 3, 5)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // batch 1: two docs land in the 14:15 window, which stays OPEN (no
    // watermark advance) — their aggregation state exists only in the
    // checkpoint at stop time
    val q1 = start()
    in.addData(rows.take(2): _*); q1.processAllAvailable()
    q1.stop()

    // restart: the same window receives two MORE docs, then the closer
    // finalizes it — every doc must emit exactly once with batch values
    val q2 = start()
    in.addData(rows.drop(2): _*); q2.processAllAvailable()
    in.addData((9L, "closer", sec(base, 4000))); q2.processAllAvailable()
    q2.stop()

    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4))))).toMap
    val streamed = keyed(spark.read.parquet(out)
      .where(col("doc_id") < 9).collect())
    val batch = keyed(TextOps.removeRepeatedSpans(
      corpus, col("doc_id"), col("text"), 3, 5).collect())
    assert(streamed == batch,
      "window state recovered: per-doc rows equal the batch face, once each")
  }

  test("chained-aggregation drift monitor merges window state across a restart") {
    import org.apache.spark.sql.functions.col
    val base = "2021-03-09 14:15:00"
    val ckpt = Files.createTempDirectory("graft-div-ckpt").toString
    val out = Files.createTempDirectory("graft-div-out").toString
    // reference corpus: x 3/6, y 1/6, q 2/6
    val corpus = Seq((1L, "x x x y"), (2L, "q q")).toDF("doc_id", "text")
    val surp = graft.operators.TextOps.unigramSurprisals(corpus, col("text"))
    val in = MemoryStream[(String, String, Timestamp)]

    def start() = Streaming.sourceDivergenceStream(
      in.toDS().toDF("source", "text", "event_time"), surp).writeStream
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // batch 1 lands in minute 1, query stops with the window OPEN in both
    // chained aggregations' state
    val q1 = start()
    in.addData(("srcA", "x y", sec(base, 1))); q1.processAllAvailable()
    q1.stop()

    // restart: MORE minute-1 tokens for the same source, then a closer —
    // counts must merge across the restart in the recovered state
    val q2 = start()
    in.addData(("srcA", "x x", sec(base, 20))); q2.processAllAvailable()
    in.addData(("srcZ", "x", sec(base, 4000))); q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .where(col("source") === "srcA")
      .select("minute", "n_tokens", "kl_vs_corpus")
      .as[(Timestamp, Long, Double)].collect()
    assert(got.length == 1, s"exactly one finalized minute-1 row: ${got.toSeq}")
    assert(got(0)._1 == Timestamp.valueOf(base) && got(0)._2 == 4L,
      s"counts from both sides of the restart must merge: ${got.toSeq}")
    // combined minute: (x:3, y:1) vs corpus (1/2, 1/6):
    //   KL = 0.75 ln 1.5 + 0.25 ln 1.5 = ln 1.5
    assert(math.abs(got(0)._3 - 0.405465) < 1e-5, s"${got.toSeq}")
  }

  test("video near-dup screen: chained dedup+agg state survives a stop/restart") {
    val base = "2021-03-09 14:15:00"
    val (hA0, hA1) = (0x1111111111111111L, 0x2222222222222222L)
    val corpus = Seq((1L, true, 0, hA0), (1L, true, 1, hA1))
      .toDF("media_id", "ok", "frame_idx", "fhash")
    val ckpt = Files.createTempDirectory("graft-vid-ckpt").toString
    val out = Files.createTempDirectory("graft-vid-out").toString
    val in = MemoryStream[(Long, Boolean, Int, Long, Int, Timestamp)]

    def start() = Streaming.videoNearDupScreenStream(
        in.toDS().toDF("media_id", "ok", "frame_idx", "fhash", "nf", "ts"),
        corpus, maxHamming = 6, minMatchFrac = 0.5,
        watermarkDelay = "10 seconds", windowLen = "60 seconds")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    // batch 1: half of delta video 10 (one of its two frames) arrives
    val t0 = sec(base, 5)
    val q1 = start()
    in.addData((10L, true, 0, hA0, 2, t0)); q1.processAllAvailable()
    q1.stop()

    // batch 2 after restart: the second frame, PLUS a replay of the first
    // one — the dedup store must still hold (10, 1, frame 0) or the
    // matched count inflates to 3 and the fraction to 1.5
    val q2 = start()
    in.addData((10L, true, 1, hA1, 2, t0), (10L, true, 0, hA0, 2, t0))
    q2.processAllAvailable()
    in.addData((99L, true, 0, 0x5555555555555555L, 1, sec(base, 90)))
    q2.processAllAvailable()
    in.addData((98L, true, 0, 0x5555555555555555L, 1, sec(base, 120)))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .select("media_id", "corpus_id", "matched_frames", "nf", "match_frac")
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(got.toSeq == Seq((10L, 1L, 2L, 2, 1.0)),
      s"one verdict, both frames matched exactly once across the restart: ${got.toSeq}")
  }

  test("snapshot delta audit resumes from its checkpoint without re-emitting") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AuditOps
    val snapshot = Seq((1L, "alpha", "web"), (2L, "beta", "web"))
      .toDF("doc_id", "text", "source")
    val index = AuditOps.snapshotHashIndex(snapshot, col("doc_id"),
      Seq(col("text"), col("source")), keyName = "doc_id").persist()
    val ckpt = Files.createTempDirectory("graft-snap-ckpt").toString
    val out = Files.createTempDirectory("graft-snap-out").toString
    val in = MemoryStream[(Long, String, String)]

    def start() = AuditOps.snapshotDeltaAudit(
        in.toDS().toDF("doc_id", "text", "source"), index,
        col("doc_id"), Seq(col("text"), col("source")), keyName = "doc_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    val q1 = start()
    in.addData((1L, "alpha", "web")); q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint: only NEW arrivals are processed — the
    // operator is stateless, so recovery correctness is exactly-once replay
    val q2 = start()
    in.addData((2L, "beta EDITED", "web"), (9L, "new doc", "web"))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 9L -> "added"),
      s"each arrival classified exactly once across the restart: $got")
    assert(spark.read.parquet(out).count() == 3L,
      "no duplicate emissions after recovery")
    index.unpersist(blocking = false)
  }

  test("bm25 routing screen merges one window's arrivals across a restart") {
    // the windowed score aggregation is the face's one stateful step: docs
    // landing in the SAME minute on both sides of a restart must score as
    // one window from checkpointed state — a lost partial would halve a
    // doc's score or emit the window twice
    import org.apache.spark.sql.functions.col
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf)
      .where(col("doc_id") < 40).select("doc_id", "text").cache()
    val queries = docs.where(col("doc_id") < 2)
    val index = RetrievalOps.bm25QueryIndex(docs, col("doc_id"),
      col("text"), queries, col("doc_id"), col("text")).persist()
    index.count()
    val ckpt = Files.createTempDirectory("graft-bm25-ckpt").toString
    val out = Files.createTempDirectory("graft-bm25-out").toString
    val in = MemoryStream[(Long, String, Timestamp)]
    val base = "2021-03-09 14:15:00"

    def start() = Streaming.bm25ScoreStream(
        in.toDS().toDF("doc_id", "text", "event_time"), index)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = rows.splitAt(20)
    val q1 = start()
    in.addData(a.map { case (id, t) =>
      (id, t, sec(base, 5)) }.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop()

    val q2 = start()
    in.addData(b.map { case (id, t) =>
      (id, t, sec(base, 30)) }.toIndexedSeq: _*) // same minute window
    in.addData((-1L, "x", sec(base, 4000))) // watermark pusher
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(out)
      .where(col("doc_id") >= 0).collect()
      .map(r => (r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    val batch = RetrievalOps.bm25TopK(docs, col("doc_id"), col("text"),
      queries, col("doc_id"), col("text"), 100000).collect()
      .map(r => (r.getLong(2), r.getLong(0)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(batch.nonEmpty && streamed == batch,
      "one window split across a restart must equal the batch ranking " +
        s"exactly (${streamed.size} vs ${batch.size})")
    index.unpersist(blocking = false); docs.unpersist(blocking = false)
  }

  test("dsir scorer merges one window's arrivals across a restart") {
    import org.apache.spark.sql.functions.col
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf)
      .where(col("doc_id") < 40).select("doc_id", "text", "lang").cache()
    val lr = RetrievalOps.dsirRatioTable(docs, col("text"),
      docs.where(col("lang") === "en"), col("text")).persist()
    lr.count()
    val ckpt = Files.createTempDirectory("graft-dsir-ckpt").toString
    val out = Files.createTempDirectory("graft-dsir-out").toString
    val in = MemoryStream[(Long, String, Timestamp)]
    val base = "2021-03-09 14:15:00"

    def start() = Streaming.dsirScoreStream(
        in.toDS().toDF("doc_id", "text", "event_time"), lr)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()

    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = rows.splitAt(20)
    val q1 = start()
    in.addData(a.map { case (id, t) =>
      (id, t, sec(base, 5)) }.toIndexedSeq: _*)
    q1.processAllAvailable()
    q1.stop()

    val q2 = start()
    in.addData(b.map { case (id, t) =>
      (id, t, sec(base, 30)) }.toIndexedSeq: _*) // same minute window
    in.addData((-1L, "x", sec(base, 4000))) // watermark pusher
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(out)
      .where(col("doc_id") >= 0).collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val batch = RetrievalOps.dsirWeights(docs, col("doc_id"), col("text"),
      docs.where(col("lang") === "en"), col("text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(streamed == batch,
      "weights for a window split across a restart must equal batch " +
        s"(${streamed.size} vs ${batch.size})")
    lr.unpersist(blocking = false); docs.unpersist(blocking = false)
  }

  test("metrics face keeps one state row per live trip, across a restart") {
    // fullMetricsStream's one operator holds a trip's diff carry and its
    // open minutes in one state row; the row goes once the watermark
    // passes the trip's last sample + 400 s
    implicit val s = spark
    val base = "2021-03-09 14:15:00"
    val in = MemoryStream[graft.ztbus.Telemetry]
    val ckpt = Files.createTempDirectory("graft-fm-rows-ckpt").toString
    def start() = Streaming.fullMetricsStream(in.toDS()).writeStream
      .outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    // two trips, three batches of 10 s each
    val batches = (0 until 30).flatMap(i => Seq(1L, 2L).map(trip =>
      tel(i * 10L + trip, trip, sec(base, i), speed = 1.0))).grouped(20).toSeq
    def feed(bs: Seq[Seq[graft.ztbus.Telemetry]]) = {
      val q = start()
      bs.foreach { b => in.addData(b); q.processAllAvailable() }
      val rows = q.recentProgress.toSeq.flatMap(_.stateOperators).map(_.numRowsTotal)
      q.stop()
      rows
    }
    val live = feed(batches.take(1)) ++ feed(batches.drop(1))
    assert(live.nonEmpty && live.forall(_ == 2L),
      s"one state row per live trip, before and after the restart: $live")
    // the watermark pusher keeps its own open minute: trips 1 and 2,
    // whose last sample is 400 s behind the watermark, keep 0 rows
    val after = feed(Seq(Seq(tel(999999L, 99L, sec(base, 7200), 0.0))))
    val keys = spark.read.format("statestore").load(ckpt)
      .select("key.value").as[Long].collect().toSeq
    assert(after.last == 1L && keys == Seq(99L),
      s"trips past lastMs + 400 s keep no state: rows $after, keys $keys")
  }
}
