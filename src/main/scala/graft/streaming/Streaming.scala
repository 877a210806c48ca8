package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, StatefulProcessorHandle,
  TTLConfig, TimeMode, TimerValues, ValueState}
import graft.functions.Exact._
import graft.ztbus.Telemetry

/** Structured Streaming drivers for the reference's continuous pipeline
  * (SURVEY.md §2.8, §3 E1-E3).
  *
  * Design stance: the reference's window-event cascade (simulator tick →
  * EveryMinute → per-trip fan-out → five algorithms) collapses into a single
  * streaming query — event-time `window()` grouping subsumes the EveryMinute
  * trigger, the grouping keys subsume the fan-out, and the checkpoint
  * subsumes the `sim_logs` ledger (simulator/main.py:96-101). The watermark
  * of 400 s is the streaming analog of the reference's bounded lookback
  * (20 iterations × 20 s, processor/main.py:246-247): later-arriving samples
  * are dropped, matching the reference's hard cap.
  *
  * A face exists here only when its plan differs from the batch
  * operator's: state, a watermark or window, a stream-static join against
  * a frozen model the batch operator would fit itself, or a
  * `foreachBatch` sink. Row-local batch operators in `graft.operators`
  * (tokenizers, screens, redaction, encoders) run on a streaming frame
  * as-is; apply them directly. `StreamParitySpec` pins each one's stream
  * run against its batch run.
  */
object Streaming {

  /** One boolean-flag telemetry sample — input to the sessionizer. */
  final case class FlagSample(trip_id: Long, time: Timestamp, flag: Boolean)

  /** One emitted session window (flag-delimited, not gap-delimited — which
    * is why `session_window()` doesn't fit and custom state is needed). */
  final case class SessionOut(
      trip_id: Long, time_from: Timestamp, time_to: Timestamp,
      n_samples: Long)

  /** Open-run state carried across micro-batches (replaces the reference's
    * backward paging across minute slices, processor/main.py:250-289): the
    * run bounds, its sample count and, per stats column, `AccSlots`
    * running doubles (count, Welford mean and M2, min, max): O(1) state
    * per column, no sample buffering. `accs` packs the doubles as bytes
    * (empty for [[sessionize]]): `flatMapGroupsWithState` rebuilds the
    * state decoder in every task, and an array or `Seq` field decodes
    * through a loop variable with a fresh name, so such a field compiles
    * a new class in every task of every micro-batch; binary does not. */
  final case class RunState(startMs: Long, lastMs: Long, n: Long, accs: Array[Byte])

  val WatermarkDelay = "400 seconds"
  private val SessionCloseMs = 400000L

  /** E1 — batch harness for the clock source: generate the minute-boundary
    * WindowEvent grid the simulator would emit, from the seed epoch
    * (simulator/main.py:85-93). Streaming equivalent: `format("rate")`
    * mapped through the same minute arithmetic. */
  def minuteWindowEvents(spark: SparkSession, from: Timestamp, to: Timestamp): DataFrame = {
    val nMinutes = ((to.getTime - from.getTime) / 60000L).toInt
    spark.range(0, nMinutes.toLong)
      .select(
        (lit(from).cast("timestamp") + expr(s"make_interval(0,0,0,0,0,0,id*60)"))
          .as("time_from"))
      .select(
        col("time_from"),
        (col("time_from") + expr("INTERVAL 60 SECONDS")).as("time_to"),
        lit("EveryMinute").as("name"), lit("1.0.0").as("version"),
        lit("simulator").as("origin"),
        map().cast("map<string,string>").as("metadata"))
  }

  /** E3 streaming (stateless subset) — per-minute per-trip metrics over a
    * telemetry stream: event-time tumbling windows + watermark; one
    * streaming aggregation, partial aggregation before the shuffle. Append
    * mode → results finalize when the watermark passes the window end, the
    * streaming equivalent of the reference emitting results per closed
    * window. Covers the metrics that need no cross-row order (kwh / dist /
    * dwell / ratio); [[fullMetricsStream]] is the five-algorithm face. */
  def minuteMetricsStream(telemetry: DataFrame): DataFrame =
    telemetry
      .withWatermark("time", WatermarkDelay)
      .groupBy(window(col("time"), "1 minute").as("w"), col("trip_id"))
      .agg(
        dsum(coalesce(col("electric_power_demand"), lit(0.0)) / 3600.0).as("kwh"),
        dsum(coalesce(col("odometry_vehicle_speed"), lit(0.0))).as("dist_m"),
        countIf(col("status_door_is_open") &&
          col("odometry_vehicle_speed") < 0.1).as("dwell_time_s"),
        count(lit(1)).as("total_s"))
      .withColumn("kwh_per_km", guardedRatio(col("kwh"), col("dist_m") / 1000.0))
      .select(col("w.start").as("minute"), col("trip_id"), col("kwh"),
        col("dist_m"), col("dwell_time_s"), col("total_s"), col("kwh_per_km"))

  /** Per-trip carry state for the streaming diff stage: the previous
    * sample's time/speed/accel, enough to continue the first/second
    * difference across micro-batches. */
  final case class DiffState(lastMs: Long, lastSpeed: Double, lastAccel: Double)

  /** Built once per JVM: `Encoders.product` derives the encoder by Scala
    * reflection under a JVM-wide lock, too slow to repeat in every task's
    * `init`. The encoder itself is immutable, so tasks share it. */
  private lazy val diffStateEncoder = Encoders.product[DiffState]

  /** The diff stage keeps one close timer per trip, `SessionCloseMs` past
    * its last sample: when the state's `lastMs` moves (or the state is
    * cleared), the timer for the previous bound is deleted before the new
    * one is registered, so superseded timers do not pile up in the state
    * store. */
  private def moveTimer(handle: StatefulProcessorHandle, prevLastMs: Option[Long],
      lastMs: Option[Long]): Unit =
    if (prevLastMs != lastMs) {
      prevLastMs.foreach(ms => handle.deleteTimer(ms + SessionCloseMs))
      lastMs.foreach(ms => handle.registerTimer(ms + SessionCloseMs))
    }

  /** One telemetry sample augmented with accel/jerk — the streaming
    * equivalent of the batch per-trip window diffs
    * (reference processor/main.py:563-565). */
  final case class DiffedSample(
      trip_id: Long, time: Timestamp,
      electric_power_demand: Double, temperature_ambient: Double,
      traction_brake_pressure: Double, odometry_articulation_angle: Double,
      odometry_vehicle_speed: Double, itcs_number_of_passengers: Int,
      status_door_is_open: Boolean, accel: Double, jerk: Double)

  /** E3 streaming, FULL five-algorithm metric set — the streaming face of
    * [[graft.ztbus.Algorithms.perMinuteMetrics]]. Two chained stateful
    * stages in ONE query:
    *
    *  1. a `transformWithState` diff stage ([[DiffProcessor]]) keyed by trip
    *     carries the previous (speed, accel) across micro-batches, so
    *     acceleration and jerk — per-key ORDERED first/second differences —
    *     survive batch boundaries exactly like the batch window-lag
    *     formulation (first sample of a trip fills 0; state evicted 400 s
    *     past the last sample via an event-time timer, the same W6 bound as
    *     [[sessionize]]). `transformWithState` rather than
    *     `flatMapGroupsWithState` because only it can DECLARE the output
    *     event-time column (`eventTimeColumnName = "time"`) — the watermark
    *     then propagates into stage 2, where fMGWS → aggregation chaining is
    *     rejected by the global-watermark correctness check. Operators
    *     with no event-time output to declare, the session faces
    *     included, use `flatMapGroupsWithState` (DECISIONS.md round 24).
    *  2. the tumbling-minute keyed aggregation over the diffed stream, all
    *     eleven metric columns at once. Sums/means use the same exact
    *     decimal arithmetic as batch (bit-identical); the two percentiles
    *     use `approx_percentile` (exact interpolated percentiles need the
    *     whole group buffered — the GK sketch is the documented streaming /
    *     scale mode, same contract as q24).
    *
    * Samples arriving out of order ACROSS micro-batches (older than the
    * trip's furthest-seen sample, still inside the watermark) are EMITTED
    * with accel = jerk = 0 — their cross-batch diff is undefined (the same
    * reset-at-a-gap reading as [[graft.operators.CoreOps.diff2ByJoin]]),
    * but the row still reaches every order-free aggregate, so kwh / counts
    * / dwell never silently lose rows. Within a micro-batch the stage
    * sorts by (time, id) — the batch window's exact order — so any
    * in-batch arrival order, including duplicate timestamps, matches
    * batch. `trips` (a static dimension) joins stream-static after the
    * aggregation for (bus_id, route_id), mirroring the batch plan's
    * broadcast join. Requires the RocksDB state store provider (set in
    * [[graft.GraftSession]]). */
  def fullMetricsStream(telemetry: Dataset[Telemetry],
      trips: Option[DataFrame] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val diffed = telemetry
      .withWatermark("time", WatermarkDelay)
      .groupByKey(_.trip_id)
      .transformWithState(new DiffProcessor,
        eventTimeColumnName = "time", outputMode = OutputMode.Append)
    val agg = diffed
      .groupBy(window(col("time"), "1 minute").as("w"), col("trip_id"))
      .agg(
        percentile_approx(col("temperature_ambient"), lit(0.5), lit(10000))
          .as("temp_50p"),
        dsum(col("electric_power_demand") / 3600.0).as("kwh"),
        dsum(col("odometry_vehicle_speed")).as("dist_m"),
        dsum(col("itcs_number_of_passengers") * col("odometry_vehicle_speed"))
          .as("passenger_m"),
        countIf(col("status_door_is_open") &&
          col("odometry_vehicle_speed") < 0.1).as("dwell_time_s"),
        count(lit(1)).as("total_s"),
        davg(col("accel")).as("accel_mean"),
        stddev_samp(col("accel")).as("accel_std"),
        percentile_approx(col("jerk"), lit(0.95), lit(10000)).as("jerk_p95"),
        var_samp(col("odometry_articulation_angle")).as("articulation_var"),
        avg(col("traction_brake_pressure")).as("brake_pressure_mean"))
      .withColumn("kwh_per_km", guardedRatio(col("kwh"), col("dist_m") / 1000.0))
      .withColumn("kwh_per_passenger_km",
        guardedRatio(col("kwh"), col("passenger_m") / 1000.0))
      .withColumn("door_open_fraction",
        guardedRatio(col("dwell_time_s").cast("double"),
          col("total_s").cast("double")))
      .select(col("w.start").as("minute"), col("trip_id"), col("temp_50p"),
        col("kwh"), col("dist_m"), col("passenger_m"), col("kwh_per_km"),
        col("kwh_per_passenger_km"), col("dwell_time_s"), col("total_s"),
        col("door_open_fraction"), col("accel_mean"), col("accel_std"),
        col("jerk_p95"), col("articulation_var"), col("brake_pressure_mean"))
    trips match {
      case Some(t) => agg.join(
        broadcast(t.select(col("id"), col("bus_id"), col("route_id"))),
        col("trip_id") === col("id")).drop("id")
      case None => agg
    }
  }

  /** The per-trip diff stage as a Spark 4 `StatefulProcessor` — see
    * [[fullMetricsStream]] for why this is `transformWithState` and not
    * `flatMapGroupsWithState`. State: one [[DiffState]] per live trip,
    * cleared by an event-time timer 400 s past the trip's last sample. */
  class DiffProcessor extends StatefulProcessor[Long, Telemetry, DiffedSample] {
    @transient private var state: ValueState[DiffState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DiffState](
        "diff", diffStateEncoder, TTLConfig.NONE)

    override def handleInputRows(tripId: Long, it: Iterator[Telemetry],
        timers: TimerValues): Iterator[DiffedSample] = {
      val sorted = it.toIndexedSeq.sorted(byTimeId)
      val prev: Option[DiffState] = if (state.exists()) Some(state.get()) else None
      var last = prev
      val out = sorted.map { t =>
        val ms = t.time.getTime
        val (accel, jerk) =
          if (last.exists(ms < _.lastMs)) (0.0, 0.0) // late cross-batch: reset
          else {
            val a = last.map(t.odometry_vehicle_speed - _.lastSpeed)
              .getOrElse(0.0)
            val j = last.map(a - _.lastAccel).getOrElse(0.0)
            last = Some(DiffState(ms, t.odometry_vehicle_speed, a))
            (a, j)
          }
        DiffedSample(t.trip_id, t.time, t.electric_power_demand,
          t.temperature_ambient, t.traction_brake_pressure,
          t.odometry_articulation_angle, t.odometry_vehicle_speed,
          t.itcs_number_of_passengers, t.status_door_is_open, accel, jerk)
      }
      last.foreach { s =>
        state.update(s)
        moveTimer(getHandle, prev.map(_.lastMs), Some(s.lastMs))
      }
      out.iterator
    }

    override def handleExpiredTimer(tripId: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[DiffedSample] = {
      // stale timers (the trip produced newer samples since) must not evict
      // live state — only the timer matching the current state's bound does
      if (state.exists() &&
          state.get().lastMs + SessionCloseMs <= info.getExpiryTimeInMs)
        state.clear()
      Iterator.empty
    }
  }

  /** J2 streaming — stream-stream interval join: correlate a stream of
    * window events with the telemetry stream by containment
    * (`time ∈ [time_from, time_to)`), the streaming form of the reference's
    * per-window pull queries. Both sides carry watermarks and the time-range
    * condition bounds the join state, so Spark can evict buffered rows as
    * the watermarks advance — state is O(events within the watermark
    * horizon), not unbounded. */
  def intervalJoinStream(windows: DataFrame, telemetry: DataFrame,
      maxWindowMinutes: Int = 1): DataFrame = {
    // Stream-stream joins need an equality predicate (state is keyed by
    // it); derive one: bucket window starts to their minute, and explode
    // each sample to every minute bucket a containing window could start in
    // (window length ≤ maxWindowMinutes). The range condition then prunes
    // within the bucket, and the watermarks bound the join state.
    val w = windows
      .withColumn("from_minute", date_trunc("minute", col("time_from")))
      .withWatermark("time_from", WatermarkDelay)
    val t = telemetry
      .withWatermark("time", WatermarkDelay)
      .withColumn("cand_minute", explode(expr(
        s"transform(sequence(0, $maxWindowMinutes), " +
          "i -> date_trunc('MINUTE', time) - make_interval(0,0,0,0,0,i,0))")))
    w.join(t,
      col("from_minute") === col("cand_minute") &&
        col("time") >= col("time_from") && col("time") < col("time_to"))
      .drop("from_minute", "cand_minute")
  }

  /** Streaming exact deduplication of (ids, event-time) EXACT repeats with
    * bounded state — the event time is part of the dedup key, which is what
    * lets the watermark evict seen keys (a record with the same ids at a
    * different event time is retained; use [[dedupStreamById]] for true
    * id-dedup). The streaming face of [[graft.operators.DedupOps]]' exact
    * path. */
  def dedupStream(df: DataFrame, timeCol: String, idCols: Seq[String]): DataFrame =
    df.withWatermark(timeCol, WatermarkDelay)
      .dropDuplicates(idCols :+ timeCol)

  /** Streaming face of the curation funnel
    * ([[graft.operators.TextOps.filterFunnel]]): cumulative survivor counts
    * per event-time MINUTE over a document stream (`doc_id`, `text`,
    * `timeCol`). Every cleaning rule is row-local — the shared
    * `funnelPredicates` keep the two faces bit-identical — so the only
    * state is the watermarked tumbling-window aggregate: bounded however
    * long the stream runs, finalized (append-mode) once the watermark
    * passes each minute. Wide columns instead of the batch unpivot: one
    * row per finalized minute. */
  def curationFunnelStream(docs: DataFrame, timeCol: String,
      minWords: Int = graft.operators.TextOps.DefaultMinWords,
      maxDupRatio: Double = graft.operators.TextOps.DefaultMaxDupRatio,
      minQuality: Double = graft.operators.TextOps.DefaultMinQuality): DataFrame = {
    val preds = graft.operators.TextOps.funnelPredicates(
      col("text"), minWords, maxDupRatio, minQuality)
    val aggs = count(lit(1)).as("n_input") +: preds.map { case (n, p) =>
      sum(when(p, 1L).otherwise(0L)).as(s"n_$n")
    }
    docs.withWatermark(timeCol, WatermarkDelay)
      .groupBy(window(col(timeCol), "1 minute"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("minute") +: col("n_input") +:
        preds.map(p => col(s"n_${p._1}")): _*)
  }

  /** Streaming face of [[graft.operators.DedupOps.incrementalDedup]] — the
    * operator whose semantics are INHERENTLY ingest-time: each micro-batch
    * is a delta screened against the EXISTING corpus's signature index
    * (`corpusSig`, from [[graft.operators.DedupOps.minhashSignatures]] —
    * precomputed once, the static side). A delta doc is dropped iff ANY of
    * its LSH band buckets collides with a corpus bucket; survivors are the
    * rows to append.
    *
    * Plan shape: the signature is the ROW-LOCAL
    * [[graft.operators.DedupOps.minhashSignaturesLocal]] (a stateless
    * projection — batch's explode+groupBy would be a streaming aggregation
    * with output-mode constraints), and "no band collides" is two chained
    * stream-static LEFT ANTI joins, one per band, against the distinct
    * corpus bucket index — each doc is one row throughout, so no state, no
    * watermark, no distinct: exactly the batch keep-set per micro-batch.
    * Intra-delta duplicates are out of scope on both faces (that is
    * [[dedupStreamById]] upstream, or LSH on the accumulated delta).
    * Output: surviving (doc_id, m0..m7) signature rows, identical to the
    * batch operator's output over the same rows. */
  def incrementalDedupStream(deltaDocs: DataFrame, corpusSig: DataFrame,
      w: Int): DataFrame = {
    import graft.functions.TextHash.bandBucket
    val buckets = graft.operators.DedupOps.corpusBandBuckets(corpusSig)
    def bandIndex(band: Int, as: String) =
      buckets.where(col("band") === band).select(col("b").as(as))
    graft.operators.DedupOps
      .minhashSignaturesLocal(deltaDocs, col("doc_id"), col("text"), w)
      .withColumn("_b0", bandBucket((0 to 3).map(i => col(s"m$i"))))
      .withColumn("_b1", bandBucket((4 to 7).map(i => col(s"m$i"))))
      .join(bandIndex(0, "_b0"), Seq("_b0"), "left_anti")
      .join(bandIndex(1, "_b1"), Seq("_b1"), "left_anti")
      .drop("_b0", "_b1")
  }

  /** Ingest face of [[graft.operators.DedupOps.takedownPropagation]] —
    * the screen that keeps REMOVED content from re-entering: a takedown
    * reaches its mirrors and near-dups once in batch, but a web recrawl
    * will keep re-surfacing the same content forever, so every ARRIVING
    * doc is checked against the persisted compliance blocklist index
    * ([[graft.operators.DedupOps.takedownIndex]] — listed texts, band
    * buckets, and sorted shingle arrays; list-sized, broadcast). Verdicts
    * per blocked arrival: `listed` (the arrival's id equals the
    * triggering src — the removed document itself recrawled under its
    * own id; excluding id-equal matches here would wave the listed
    * content straight back in) beats `exact_copy` (byte-identical text
    * to a listed doc) beats `near_dup` (band collision + exact
    * shingle-Jaccard at `threshold` INSIDE the join — collision alone
    * never blocks, the media-screen rule), smallest triggering src on
    * ties; arrivals matching nothing pass silently (the decontaminate
    * drop-set convention). Row-local signatures/shingles, three
    * stream-static joins, one watermarked per-minute aggregation — no
    * state. Replay parity: on the corpus itself this equals the batch
    * operator's rows row-for-row, `listed` included, pinned in
    * StreamingSpec. */
  def takedownScreenStream(docs: DataFrame, index: DataFrame, w: Int,
      threshold: Double, timeCol: String = "event_time"): DataFrame = {
    import graft.functions.TextHash.bandBucket
    val hashes = graft.functions.HashExpressions
    val base = graft.operators.DedupOps.minhashSignaturesLocal(
        docs.withWatermark(timeCol, WatermarkDelay),
        col("doc_id"), col("text"), w,
        keep = Seq(col(timeCol).as("_t"), col("text").as("_txt"),
          sort_array(array_distinct(hashes.shingleHashes(col("text"), w)))
            .as("_hs")))
      .withColumn("_b0", bandBucket((0 to 3).map(i => col(s"m$i"))))
      .withColumn("_b1", bandBucket((4 to 7).map(i => col(s"m$i"))))
      .withColumn("_n", size(col("_hs")).cast("long"))
    // An arrival whose id EQUALS a listed src is not excluded — it is the
    // removed document itself re-surfacing (a recrawl reusing the id), the
    // exact case a compliance screen must block. It outranks exact_copy
    // (_pri 0, matching the batch operator's 'listed' rows) so corpus
    // replay parity with takedownPropagation holds row-for-row.
    def pri(nonListed: Int): Column =
      when(col("doc_id") === col("src_id"), lit(0)).otherwise(lit(nonListed))
    val exact = base.join(
        index.select(col("text").as("_txt"), col("src_id")).distinct(),
        Seq("_txt"))
      .select(col("_t"), col("doc_id"), pri(1).as("_pri"), col("src_id"))
    val near = Seq(0, 1).map { band =>
      base.join(index.where(col("band") === band)
          .select(col("b").as(s"_b$band"), col("src_id"),
            col("hs").as("_lhs"), col("n").as("_ln")),
        Seq(s"_b$band"))
        .withColumn("_common",
          hashes.sortedIntersectCount(col("_hs"), col("_lhs")))
        .where(col("_common").cast("double") /
          (col("_n") + col("_ln") - col("_common")).cast("double")
          >= threshold)
        .select(col("_t"), col("doc_id"), pri(2).as("_pri"), col("src_id"))
    }
    near.foldLeft(exact)(_ unionByName _)
      .groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(min(struct(col("_pri"), col("src_id"))).as("_v"))
      .select(col("doc_id"),
        when(col("_v._pri") === 0, lit("listed"))
          .when(col("_v._pri") === 1, lit("exact_copy"))
          .otherwise(lit("near_dup")).as("reason"),
        col("_v.src_id").as("src_id"))
  }

  /** Typo-normalization ingest face of
    * [[graft.operators.TextOps.fuzzyVocabPairs]]: arriving documents'
    * out-of-vocabulary words are resolved against the FROZEN reference
    * vocabulary through the deletion-neighborhood index — the SymSpell
    * lookup shape: the static side pre-explodes the vocabulary's
    * neighborhoods ONCE at stream definition, each arriving OOV word
    * explodes its own neighborhood row-locally, the two meet in a
    * stream-static join (stateless), and `levenshtein` verifies. Emits
    * one row per (window, doc, word) with the BEST suggestion —
    * min (distance, −df, suggestion) struct order: closest wins, then
    * the more frequent canonical form, then lexicographic — the
    * deterministic pick a replay reproduces. In-vocabulary words never
    * emit (they are not typos); OOV words with no neighbor within
    * `maxDist` never emit (novel vocabulary, not typos — a quality
    * gate reads their absence from n_words vs suggestions elsewhere). */
  def typoSuggestStream(docs: DataFrame, vocab: DataFrame,
      minLen: Int = 4, maxDist: Int = 1,
      timeCol: String = "event_time"): DataFrame = {
    import graft.operators.TextOps
    val idx = vocab.select(col("word").as("_sug"), col("df"),
      explode(TextOps.deletionVariants(col("word"), maxDist)).as("_v"))
    val words = docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= minLen)
      .join(vocab.select(col("word"), lit(true).as("_known")),
        Seq("word"), "left")
      .where(col("_known").isNull).drop("_known")
    words
      .select(col("window"), col("doc_id"), col("word"),
        explode(TextOps.deletionVariants(col("word"), maxDist)).as("_v"))
      .join(idx, "_v")
      .select(col("window"), col("doc_id"), col("word"),
        col("_sug"), col("df"),
        levenshtein(col("word"), col("_sug")).cast("long").as("_d"))
      .where(col("_d") <= maxDist)
      .groupBy(col("window"), col("doc_id"), col("word"))
      .agg(min(struct(col("_d").as("d"), (-col("df")).as("ndf"),
        col("_sug").as("s"))).as("_b"))
      .select(col("doc_id"), col("word"),
        col("_b.s").as("suggestion"), col("_b.d").as("dist"),
        (-col("_b.ndf")).as("suggestion_df"))
  }

  /** Ingest face of the learned quality filter
    * ([[graft.operators.ClassifyOps.logisticScore]], q186): arriving
    * docs scored under the FROZEN round-6 IRLS weights — the whole face
    * is the batch pipeline's own row-local half (gopherQuality signals +
    * distill features + polynomial terms + sigmoid, weights as
    * literals), so parity is definitional: no state, no join, no
    * watermark. Emits `(doc_id, p_keep, pred_keep)` per arrival — the
    * ridgeScoreStream contract for the classifier tier. Re-fit →
    * restart, the standing frozen-model rule. */
  def logisticScoreStream(docs: DataFrame,
      weights: Seq[Double]): DataFrame = {
    import graft.operators.{ClassifyOps, TextOps}
    val sig = TextOps.gopherQuality(docs, col("doc_id"), col("text"),
      ClassifyOps.distillFeatures(col("text")))
    ClassifyOps.logisticScore(ClassifyOps.logisticQualityFeatures(sig),
        ClassifyOps.QualityFeatCols, weights)
      .select(col("doc_id"), col("p_keep"), col("pred_keep"))
  }

  /** Ingest face of [[graft.operators.AuditOps.applyChangeSet]] — a CDC
    * change stream continuously materialized into a keyed snapshot (the
    * foreachBatch MERGE consumer every table format documents, as a
    * library operator). State lives under `stateDir` as immutable
    * per-batch versions `v=<batchId>`: each micro-batch reads the latest
    * version (or `initial` before the first), applies the batch's
    * changes through the SAME `applyChangeSet` the batch face uses —
    * AuditOpsSpec's invariant (seq-ordered incremental application ≡
    * one-shot apply) is exactly what makes this materialization equal a
    * batch MERGE of the full log — and writes the next version. Restart
    * safety: re-processing batch N overwrites `v=N` with identical
    * content (the apply is deterministic), so replays converge.
    * Versions double as time travel: `v=K` IS the snapshot as of batch
    * K; compact old versions out-of-band like any table-format
    * maintenance job. Pass the returned function to
    * `writeStream.foreachBatch`; read the live snapshot with
    * [[cdcSnapshot]]. */
  def cdcApplySink(stateDir: String, initial: DataFrame,
      keyName: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val prev = cdcSnapshot(spark, stateDir, initial, maxVersion = batchId - 1)
      graft.operators.AuditOps.applyChangeSet(prev, batch, keyName)
        .write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    }
  }

  /** Version ids currently materialized under a [[cdcApplySink]]
    * `stateDir`, listed through the Hadoop FileSystem of the path's
    * scheme — `java.io.File.listFiles` returns null for hdfs://, s3a://
    * (any non-local scheme), which would silently read as "no versions"
    * and make every micro-batch merge against `initial` while its write
    * still succeeds via Spark's Hadoop path: prior merges silently lost.
    * The listing MUST go through the same filesystem abstraction the
    * writes do. */
  private def cdcVersions(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(stateDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  /** The latest materialized [[cdcApplySink]] snapshot under `stateDir`
    * (capped at `maxVersion` for time travel), or `initial` when no
    * version at all exists yet (stream not started / replaying batch 0,
    * whose previous state IS `initial`). Requesting a version BELOW the
    * retained floor after a [[cdcSquash]] throws instead of silently
    * answering with `initial` — a squashed snapshot is gone, and a wrong
    * time-travel answer is worse than no answer. */
  def cdcSnapshot(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      initial: DataFrame, maxVersion: Long = Long.MaxValue): DataFrame = {
    val versions = cdcVersions(spark, stateDir)
    val candidates = versions.filter(_ <= maxVersion)
    if (candidates.nonEmpty) spark.read.parquet(s"$stateDir/v=${candidates.max}")
    else if (versions.isEmpty || maxVersion < 0) initial
    else throw new IllegalStateException(
      s"cdcSnapshot: version <= $maxVersion under $stateDir was squashed " +
        s"(retained floor v=${versions.min}); time travel below the " +
        "retention window is unrecoverable")
  }

  /** Retention for [[cdcApplySink]] state — the maintenance job that
    * bounds the one-immutable-version-per-micro-batch accumulation (a
    * long-running stream otherwise grows `stateDir` forever). Each
    * version is a SELF-CONTAINED snapshot (the sink writes the full
    * merged state, not a delta), so the newest retained version is
    * already the "compacted base" and squash is pure deletion: drop every
    * version below the newest `keepLast`. Returns the dropped ids.
    * Time travel within the retained window is unaffected; below it,
    * [[cdcSnapshot]] now fails fast. Safe to run concurrently with the
    * stream: the sink only ever reads `v = batchId - 1`, and
    * `keepLast >= 1` keeps the latest version by construction (use
    * comfortably more than 1 so a restart replaying the last checkpointed
    * batch still finds its predecessor). */
  def cdcSquash(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val drop = cdcVersions(spark, stateDir).sorted.dropRight(keepLast)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v=$v"), true)
    }
    drop
  }

  /** Ingest face of
    * [[graft.operators.SimilarityOps.semanticContamination]] — arriving
    * embeddings screened against the STATIC eval-set band projection
    * (benchmark-sized, broadcast; re-release the benchmark → restart the
    * stream, the standing static-index rule). Witness discovery is the
    * shared [[graft.operators.SimilarityOps.contaminationHits]] frame —
    * band collision + cosine verified inside the join, collision alone
    * never flags — and the strongest witness per (1-minute window, doc)
    * resolves with a windowed `max(struct(cos, -eval_id))` (equal to the
    * batch rank window's cos-desc/eval-asc pick, parity pinned in
    * StreamingSpec). One watermark-bounded aggregation, no other state.
    * PERSIST `evalSet` before starting the stream (the media-screen
    * static-side rule) so its band projection is not recomputed per
    * micro-batch. */
  def semanticContaminationStream(delta: DataFrame, evalSet: DataFrame,
      threshold: Double, nBits: Int, tables: Int,
      timeCol: String = "event_time"): DataFrame = {
    val hits = graft.operators.SimilarityOps.contaminationHits(
      delta.withWatermark(timeCol, WatermarkDelay),
      evalSet, col("vec_id"), col("embedding"), threshold, nBits, tables,
      keep = Seq(timeCol))
    hits.groupBy(window(col(timeCol), "1 minute").as("window"),
        col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("eval_id")).as("_ne")))
        .as("_m"))
      .select(col("window"), col("vec_id"),
        (-col("_m._ne")).as("eval_id"), col("_m.cos_sim").as("cos_sim"))
  }

  /** Ingest face of [[graft.operators.ClassifyOps.nbClassify]] — arriving
    * docs scored under the FROZEN Naive Bayes model (the fit is corpus-
    * wide and closed-form; a micro-batch never re-fits — re-fit → restart
    * the stream, the standing static-index rule). The static sides are
    * the [[graft.operators.ClassifyOps.nbFit]] pair — the SAME tables the
    * batch face builds, so likelihoods cannot drift between faces. Tokens
    * explode within the batch, probe the model through the shared
    * Zipf-split join ([[graft.operators.ClassifyOps.scoreTokens]]), and
    * re-aggregate per (1-minute window, doc_id) under the watermark — the
    * one stateful step, bounded, the takedown-screen shape. Output: per
    * window the doc's predicted class, token count, and winning score —
    * equal to the batch classifier's row for the same doc (StreamingSpec
    * parity). PERSIST `model` and `priors` before starting the stream
    * (the media-screen static-side rule): the Zipf head/tail split sorts
    * the model per micro-batch otherwise. */
  def nbClassifyStream(docs: DataFrame, model: DataFrame, priors: DataFrame,
      labels: Seq[String], timeCol: String = "event_time"): DataFrame = {
    val words = docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
    graft.operators.ClassifyOps.scoreTokens(
      words, model, priors, labels, Seq("window", "doc_id"))
  }

  /** Standing-query routing face of [[graft.operators.RetrievalOps
    * .bm25TopK]] — every ARRIVING doc scored against the FROZEN
    * standing-query set (topic routing / alerting: "which of our N
    * monitored queries does this crawl document match, and how
    * strongly"). The static side is [[graft.operators.RetrievalOps
    * .bm25QueryIndex]] — corpus-fitted idf + avgdl, query-terms-sized,
    * broadcast (df/avgdl are corpus statistics a micro-batch cannot
    * know; re-fit → restart, the standing static-index rule). Term
    * frequency and doc length are ROW-LOCAL array math over the
    * arrival's own tokens — no postings state — so the one stateful
    * step is the per-(window, doc, query) score aggregation, and a
    * corpus replay reproduces the batch ranking's scores exactly
    * (StreamingSpec parity; terms the corpus never saw score at the
    * df=0 idf, the correct BM25 treatment of novel vocabulary). Emits
    * scores at or above `minScore`. */
  def bm25ScoreStream(docs: DataFrame, index: DataFrame,
      k1: Double = 1.2, b: Double = 0.75, minScore: Double = 0.0,
      timeCol: String = "event_time"): DataFrame = {
    val toks = filter(split(col("text"), " "), w => length(w) > 0)
    val base = docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        toks.as("_toks"))
    val tf = size(filter(col("_toks"), t => t === col("word"))).cast("long")
    val dl = size(col("_toks")).cast("long")
    base
      .select(col("window"), col("doc_id"), col("_toks"),
        explode(array_distinct(col("_toks"))).as("word"))
      .join(index, Seq("word")) // stream-static inner probe
      .select(col("window"), col("doc_id"), col("query_id"),
        graft.operators.RetrievalOps.contrib6(col("idf"), tf, dl,
          col("avgdl"), k1, b).as("_c"))
      .groupBy(col("window"), col("doc_id"), col("query_id"))
      .agg(sum(col("_c")).as("score"), count(lit(1)).as("n_terms"))
      .where(col("score") >= minScore)
      .select(col("window"), col("doc_id"), col("query_id"), col("n_terms"),
        col("score").cast("double").as("score"))
  }

  /** Ingest face of [[graft.operators.RetrievalOps.dsirWeights]] —
    * arriving docs scored under the FROZEN importance-ratio table (the
    * target and raw LMs are corpus-wide fits; a micro-batch never
    * re-fits — re-fit → restart the stream, the standing static-index
    * rule). The static side is [[graft.operators.RetrievalOps
    * .dsirRatioTable]] — the SAME table the batch face consumes through
    * the SAME [[graft.operators.RetrievalOps.dsirScore]] core, so weights
    * cannot drift between faces; words outside the fitted vocabulary
    * score 0 (evidence for neither distribution). One watermarked
    * per-(minute window, doc) aggregation, no other state. PERSIST
    * `ratioTable` before starting the stream (the media-screen
    * static-side rule): the Zipf head/tail split sorts it per
    * micro-batch otherwise. */
  def dsirScoreStream(docs: DataFrame, ratioTable: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    val words = docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
    graft.operators.RetrievalOps.dsirScore(
      words, ratioTable, Seq("window", "doc_id"))
  }

  /** Ingest face of [[graft.operators.PQOps.quantizationDrift]] — the
    * live detector behind the static-index re-fit rule: arriving
    * embeddings are PQ-encoded row-locally against the frozen codebook,
    * their reconstruction error ([[graft.functions.PQAdcDist]] self-
    * distance — the same fixed-order arithmetic every code-space screen
    * scores with) is aggregated per minute, and each window compares its
    * mean against `baselineMeanErr` — the corpus-at-fit-time scalar the
    * batch operator's baseline row produces ONCE and a deployment
    * persists beside the codebook. A window whose ratio crosses
    * `refitRatio` flags `refit = true`: the signal to re-learn the
    * codebook and rebuild the code-space indexes before their recall
    * silently decays. Stateless beyond the one watermarked window agg;
    * per-window output `(minute, n, mean_err, max_err, err_ratio,
    * refit)` — the batch delta row's schema keyed by window
    * (StreamingSpec pins stats parity against the batch operator on the
    * same rows). */
  def quantizationDriftStream(emb: DataFrame,
      codebook: Seq[(Int, Array[Float])], baselineMeanErr: Double,
      m: Int, sub: Int, refitRatio: Double = 1.5,
      timeCol: String = "event_time"): DataFrame = {
    require(refitRatio > 0, s"refitRatio must be positive, got $refitRatio")
    val (_, recon) = graft.operators.PQOps.pqEncodeExprs(
      col("embedding"), codebook, m, sub)
    emb.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"),
        graft.functions.VectorExpressions.pqAdcDist(
          col("embedding"), recon, sub).as("_err"))
      .groupBy(window(col("_t"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"),
        round(graft.functions.Exact.dsum(col("_err")) / count(lit(1)), 6)
          .as("mean_err"),
        round(max(col("_err")), 6).as("max_err"))
      .withColumn("err_ratio", when(lit(baselineMeanErr) > 0,
        round(col("mean_err") / lit(baselineMeanErr), 6)))
      .withColumn("refit",
        coalesce(col("err_ratio") >= refitRatio, lit(false)))
      .select(col("w.start").as("minute"), col("n"), col("mean_err"),
        col("max_err"), col("err_ratio"), col("refit"))
  }

  /** Ingest-time semantic near-dup screen against the COMPRESSED corpus —
    * [[semanticDedupStream]] with both sides of the verify in SQ8 code
    * space: the corpus side is [[graft.operators.SimilarityOps
    * .sq8CellIndex]] (cells + codes + reconstructed norms, floats
    * discarded after one batch pass), and each arriving embedding is
    * cell-assigned row-locally, SQ8-encoded against the broadcast
    * quantizer, and compared to same-cell corpus CODES via the fused
    * reconstructed dot. An arrival is `kept = false` iff some corpus
    * code-vector in its cell reaches `threshold` reconstructed cosine —
    * the decision the batch code-space screen makes on the same data
    * (StreamingSpec pins face-on-batch ≡ face-on-stream and the
    * independent code-space expectation). At 100 TB the static side of
    * this join is 65 bytes/vector instead of 260 — the screen fits where
    * the float index would not.
    *
    * CODE-SPACE CAVEAT (inherent, spec-pinned): a corpus-constant
    * dimension has scale 0, so an arrival with energy THERE collapses to
    * its in-distribution projection and can screen as a near-dup the
    * float screen would keep — the quantizer cannot represent directions
    * the corpus never exercised. Distribution drift at ingest therefore
    * warrants a stats re-fit (the standing static-index rule), and a
    * drift monitor on the delta's reconstruction error is the cheap
    * detector (max_err spikes exactly when arrivals leave the fitted
    * box). */
  def sq8SemanticScreenStream(deltaEmb: DataFrame, corpusIdx: DataFrame,
      centroids: DataFrame, stats: DataFrame, threshold: Double,
      timeCol: String = "event_time"): DataFrame = {
    import graft.functions.VectorExpressions
    val cents = centroids.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val encoded = deltaEmb.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("vec_id"), col("embedding"),
        graft.operators.SimilarityOps.cellExprFor(col("embedding"), cents)
          .as("cell"), lit(1).as("_k"))
      .join(broadcast(stats.withColumn("_k", lit(1))), "_k")
      .select(col("_t"), col("vec_id"), col("cell"), col("mins"),
        col("scales"),
        VectorExpressions.sq8Encode(col("embedding"), col("mins"),
          col("scales")).as("_dc"))
      .withColumn("_dn", sqrt(VectorExpressions.sq8ReconDot(col("_dc"),
        col("_dc"), col("mins"), col("scales"))))
    encoded
      .join(corpusIdx.select(col("cell"), col("codes").as("_cc"),
        col("nrm").as("_cn")), Seq("cell"), "left")
      .withColumn("_sim", when(col("_dn") * col("_cn") > 0,
        round(VectorExpressions.sq8ReconDot(col("_dc"), col("_cc"),
          col("mins"), col("scales")) / (col("_dn") * col("_cn")), 6)))
      .groupBy(window(col("_t"), "1 minute"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        (count(when(col("_sim") >= threshold, 1)) === 0).as("kept"))
      .select("vec_id", "cell", "kept")
  }

  /** Ingest-time semantic screen at the DEEPEST compression tier —
    * [[sq8SemanticScreenStream]]'s shape with both sides of the verify in
    * PQ code space: the static side is [[graft.operators.PQOps
    * .pqCellIndex]] (~8 bytes/vector + one 4 KB subspace-dot table,
    * vs SQ8's 65 B/vector — the index for a 10⁹-vector corpus fits in
    * single-digit GB), each arrival is cell-assigned and PQ-encoded
    * row-locally, and every same-cell compare is m table gathers
    * ([[graft.functions.PQCodeDot]]) — no reconstruction materialized
    * anywhere. `kept = false` iff some corpus code vector in the
    * arrival's cell reaches `threshold` reconstructed cosine — the
    * decision [[graft.operators.PQOps.pqSemanticScreen]] makes on the
    * same data (StreamingSpec parity).
    *
    * The SQ8 face's code-space caveat applies ONE TIER DEEPER: a PQ
    * codebook spans at most k directions per subspace, so novelty
    * orthogonal to the codebook collapses onto its nearest codeword and
    * can screen as a near-dup a float (or SQ8) screen would keep.
    * Distribution drift ⇒ re-fit the codebook and rebuild the index
    * (the standing static-index rule); the cheap detector is the
    * arrival-side ADC distance to its own code, this tier's
    * reconstruction error. PERSIST the index before starting the
    * stream (the mediaNearDupScreenStream lesson). */
  def pqSemanticScreenStream(deltaEmb: DataFrame, corpusIdx: DataFrame,
      cells: Seq[(Long, Array[Float])], codebook: Seq[(Int, Array[Float])],
      threshold: Double, m: Int, sub: Int,
      timeCol: String = "event_time"): DataFrame = {
    import graft.functions.VectorExpressions
    import graft.operators.{PQOps, SimilarityOps}
    val (codes, _) = PQOps.pqEncodeExprs(col("embedding"), codebook, m, sub)
    val table = typedLit(PQOps.pqCodeDotTable(codebook, m, sub).toSeq)
    val k = codebook.size
    deltaEmb.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("vec_id"),
        SimilarityOps.cellExprFor(col("embedding"), cells).as("cell"),
        codes.as("_dc"))
      .withColumn("_dn", sqrt(VectorExpressions.pqCodeDot(table,
        col("_dc"), col("_dc"), m, k)))
      .join(corpusIdx.select(col("cell"), col("codes").as("_cc"),
        col("nrm").as("_cn")), Seq("cell"), "left")
      .withColumn("_sim", when(col("_dn") * col("_cn") > 0,
        round(VectorExpressions.pqCodeDot(table, col("_dc"), col("_cc"),
          m, k) / (col("_dn") * col("_cn")), 6)))
      .groupBy(window(col("_t"), "1 minute"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        (count(when(col("_sim") >= threshold, 1)) === 0).as("kept"))
      .select("vec_id", "cell", "kept")
  }

  /** Streaming face of [[graft.operators.TextOps.leakageSafeSplit]] — the
    * ingest-time split assignment: a doc arriving AFTER the corpus was
    * split must inherit its near-dup cluster's established bucket, or the
    * new copy of a test doc lands in train and the leakage the batch
    * split removed comes straight back through ingest.
    *
    * `splitIndex` is the persisted per-cluster index
    * ([[graft.operators.TextOps.clusterSplitIndex]] — (band, b) →
    * (cluster_id, grp_hash, n_members), ≤ 2 rows per corpus doc). Each
    * delta doc computes its row-local signature
    * ([[graft.operators.DedupOps.minhashSignaturesLocal]] — stateless, no
    * aggregation-mode constraints) and its two band buckets, then two
    * stream-static LEFT joins (one per band, the [[incrementalDedupStream]]
    * shape — each doc stays one row throughout, so no state, no watermark)
    * fetch any established cluster. A doc hitting a cluster inherits
    * (cluster_id, grp_hash, n_members) — min grp_hash across bands when
    * both hit, which for a candidate-graph index is the SAME cluster by
    * construction; a doc hitting nothing is a singleton and buckets by its
    * own content hash, exactly the batch fallback. Output schema matches
    * the batch face; `n_members`/`sample_weight` reflect the ESTABLISHED
    * cluster (the corpus the index was built from — for a truly-new member
    * the denominator predates its own arrival; rebuild the index on
    * re-split, as with every ingest-time screen here).
    *
    * Parity (pinned in StreamingSpec): streaming the corpus's own docs
    * against its own index reproduces [[graft.operators.TextOps
    * .leakageSafeSplit]] row-for-row — every member's buckets map to its
    * own cluster, singletons (including docs ALL of whose buckets were
    * capped out of pair generation) miss every index row and fall back to
    * their own hash. */
  def leakageSafeSplitStream(deltaDocs: DataFrame, splitIndex: DataFrame,
      w: Int, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    import graft.functions.TextHash.bandBucket
    def side(band: Int) = splitIndex.where(col("band") === lit(band))
      .select(col("b").as(s"_b$band"), col("cluster_id").as(s"_c$band"),
        col("grp_hash").as(s"_h$band"), col("n_members").as(s"_n$band"))
    val useB0 = col("_h0").isNotNull &&
      (col("_h1").isNull || col("_h0") <= col("_h1"))
    val grpHash = when(useB0, col("_h0"))
      .when(col("_h1").isNotNull, col("_h1")).otherwise(col("own_hash"))
    val clusterId = when(useB0, col("_c0"))
      .when(col("_h1").isNotNull, col("_c1")).otherwise(col("doc_id"))
    val nMembers = when(useB0, col("_n0"))
      .when(col("_h1").isNotNull, col("_n1")).otherwise(lit(1L))
    val bucket = pmod(grpHash, lit(100))
    graft.operators.DedupOps
      .minhashSignaturesLocal(deltaDocs, col("doc_id"), col("text"), w,
        keep = Seq(
          graft.functions.HashExpressions.polyHash(col("text"))
            .as("own_hash")))
      .withColumn("_b0", bandBucket((0 to 3).map(i => col(s"m$i"))))
      .withColumn("_b1", bandBucket((4 to 7).map(i => col(s"m$i"))))
      .join(side(0), Seq("_b0"), "left")
      .join(side(1), Seq("_b1"), "left")
      .select(col("doc_id"), clusterId.as("cluster_id"),
        nMembers.as("n_members"),
        (lit(1.0) / nMembers).as("sample_weight"),
        bucket.as("bucket"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Ingest-time media near-dup SCREEN over a 64-bit fingerprint column —
    * the [[incrementalDedupStream]] shape extended to the image/audio
    * modality: each micro-batch of freshly-fingerprinted media
    * ([[graft.operators.MultimodalOps.imageDHash]] /
    * [[graft.operators.MultimodalOps.audioEnvHash]] applied to the
    * stream; `hashName` "dhash" / "ehash") is screened against
    * the EXISTING corpus's fingerprints, and survivors are the rows to
    * append. A delta row is dropped iff some corpus fingerprint is within
    * hamming `maxHamming` of it.
    *
    * Exact recall WITHOUT band-bucket trust: the text screen can drop on
    * bucket collision because minhash band equality IS the candidate
    * predicate, but 8-bit fingerprint bands have only 256 values per band
    * — on any real corpus every byte is occupied and a collision means
    * nothing (the q89 banding lesson). So each of the 8 per-band joins
    * here carries the corpus fingerprint as payload and the exact
    * `bit_count(xor) <= maxHamming` verify runs INSIDE the join
    * condition; the band equality only routes the hash lookup. Eight
    * chained stream-static LEFT ANTI joins, one per band — pigeonhole
    * guarantees any fingerprint within hamming 7 shares at least one band
    * byte, so a true near-dup cannot evade all eight. Each doc stays one
    * row throughout: no state, no watermark, no aggregation.
    *
    * Scale note: per band the corpus side hashes to 256 buckets, so one
    * probe compares against ~N/256 corpus fingerprints — fine to millions
    * of media, and the screen is embarrassingly parallel in the delta.
    * Past that, widen the route key (Manku et al., WWW'07: fewer, wider
    * permuted blocks) — the verify-in-join shape is unchanged.
    *
    * Broken payloads (`ok = false`, fingerprint 0) are NEVER hash-screened
    * — they would all collide at 0 — and pass through with their flag for
    * the caller's integrity handling, mirroring the batch discipline of
    * filtering on `ok` before pair discovery. */
  def mediaNearDupScreenStream(deltaHashes: DataFrame, corpusHashes: DataFrame,
      hashName: String, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8x8-band pigeonhole guarantees recall only to hamming 7, got $maxHamming")
    val corpus = (if (corpusHashes.columns.contains("ok"))
        corpusHashes.where(col("ok"))
      else corpusHashes).select(col(hashName).as("_ch"))
    // The 8 per-band projections of the STATIC corpus side, computed and
    // deduplicated ONCE and persisted: without the cache every
    // micro-batch re-pays 8 corpus scans plus 8 distinct-shuffles
    // rebuilding them. The cached frame materializes on the first batch
    // and lives for the stream's lifetime (it is the screen's index —
    // same footprint as the corpus hash list ×8); stop the stream and
    // `spark.catalog.clearCache()` to reclaim it.
    val bandSides = corpus.select(col("_ch"),
        explode(array((0 until 8).map(b => struct(lit(b).as("band"),
          shiftright(col("_ch"), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
          .as("_bv"))
      .select(col("_bv.band").as("_band"), col("_bv.b").as("_cb"),
        col("_ch"))
      .distinct().persist()
    val screened = (0 until 8).foldLeft(deltaHashes.where(col("ok"))) {
      (df, band) =>
        val side = bandSides.where(col("_band") === band)
          .select(col("_cb").as(s"_cb$band"), col("_ch").as(s"_ch$band"))
        df.join(side,
          shiftright(col(hashName), band * 8).bitwiseAND(lit(0xffL)) ===
            col(s"_cb$band") &&
            bit_count(col(hashName).bitwiseXOR(col(s"_ch$band")))
              <= lit(maxHamming),
          "left_anti")
    }
    screened.unionByName(deltaHashes.where(!col("ok")))
  }

  /** Ingest-time VIDEO near-dup detection — the frame-fraction semantics of
    * [[graft.operators.MultimodalOps.videoNearDupPairs]] as a streaming
    * face. Emits one VERDICT row per (delta video, corpus video) whose
    * matched-frame fraction reaches `minMatchFrac`; an empty result for a
    * video means it is clean to append (the drop itself is the caller's
    * append-time anti-join — a "survivors" shape would need stream-stream
    * negation).
    *
    * Input `deltaFrames` is the row-local
    * [[graft.operators.MultimodalOps.videoFrameHashesCounted]] output plus
    * an event-time column `ts` (one timestamp per video — all its frame
    * rows carry the same ingest time); `corpusFrames` is the static
    * [[graft.operators.MultimodalOps.videoFrameHashes]] table of the
    * existing corpus. Candidates: delta frames explode into 8×8-bit band
    * rows and equi-join corpus band rows with the corpus fhash carried as
    * payload — the exact per-frame hamming verify filters INSIDE the join
    * output (the q89 shape), so only verified frame matches reach state.
    * Then two watermark-bounded stateful steps in append mode:
    * `dropDuplicatesWithinWatermark` collapses a delta frame matching a
    * corpus video through several bands/frames to one row, and a windowed
    * count per (delta video, corpus video) yields `matched_frames`.
    *
    * `match_frac = matched_frames / nf(delta)` — the DELTA's perspective:
    * a delta that is a trim of a corpus video scores 1.0 (the batch
    * shorter-side convention, since the trim is the shorter side). The
    * one direction this under-flags is a delta EXTENSION that swallows a
    * short corpus video whole (fraction dilutes with delta length); that
    * direction needs the corpus-side denominator, which is the batch
    * pass's job at re-index time — same division of labor as every other
    * ingest screen here (the index predates the delta by construction).
    *
    * Verdicts finalize when the watermark passes their window end —
    * bounded state, append-mode output, late frames beyond
    * `watermarkDelay` dropped like every face in this file. */
  def videoNearDupScreenStream(deltaFrames: DataFrame, corpusFrames: DataFrame,
      maxHamming: Int = 6, minMatchFrac: Double = 0.5,
      watermarkDelay: String = WatermarkDelay,
      windowLen: String = "60 seconds"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8x8-band pigeonhole guarantees recall only to hamming 7, got $maxHamming")
    require(minMatchFrac > 0.0 && minMatchFrac <= 1.0,
      s"minMatchFrac must be in (0, 1], got $minMatchFrac")
    val corpusBands = corpusFrames.where(col("ok")).select(
      col("media_id").as("_cid"), col("fhash").as("_cfh"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band"),
        shiftright(col("fhash"), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
        .as("_bv"))
      .select(col("_cid"), col("_cfh"), col("_bv.band").as("_band"),
        col("_bv.b").as("_b"))
    deltaFrames.where(col("ok"))
      .withWatermark("ts", watermarkDelay)
      .select(col("media_id"), col("frame_idx"), col("fhash"), col("nf"),
        col("ts"),
        explode(array((0 until 8).map(b => struct(lit(b).as("band"),
          shiftright(col("fhash"), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
          .as("_bv"))
      .join(corpusBands,
        col("_bv.band") === col("_band") && col("_bv.b") === col("_b") &&
          col("media_id") =!= col("_cid") &&
          bit_count(col("fhash").bitwiseXOR(col("_cfh"))) <= lit(maxHamming))
      .select(col("media_id"), col("_cid").as("corpus_id"), col("frame_idx"),
        col("nf"), col("ts"))
      .dropDuplicatesWithinWatermark("media_id", "corpus_id", "frame_idx")
      .groupBy(window(col("ts"), windowLen), col("media_id"),
        col("corpus_id"))
      .agg(count(lit(1)).as("matched_frames"), max(col("nf")).as("nf"))
      .withColumn("match_frac",
        col("matched_frames").cast("double") / col("nf").cast("double"))
      .where(col("match_frac") >= minMatchFrac)
      .select(col("window"), col("media_id"), col("corpus_id"),
        col("matched_frames"), col("nf"), col("match_frac"))
  }

  /** Streaming face of [[graft.operators.TextOps.lineDedup]]: line document
    * frequency is a corpus-GLOBAL statistic no micro-batch can see, so the
    * drop-set ([[graft.operators.TextOps.boilerplateLineSet]] over the
    * corpus) joins stream-static, exactly like the q61 signature index.
    * Dropped lines are MARKED by a left join rather than removed, so a doc
    * whose every line is boilerplate still emits its (n_kept = 0, NULL
    * fingerprint) row — identical to the batch face's left-join shape.
    * Reassembly is a per-minute, per-doc watermarked aggregation: one doc
    * row carries one event time, so a document never straddles windows,
    * and rows finalize in append mode when the watermark passes. */
  def lineDedupStream(docs: DataFrame, dropLines: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    import graft.functions.HashExpressions.polyHash
    val lines = docs.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", polyHash(col("line")))
      .withColumn("llen", length(col("line")).cast("long"))
    lines
      .join(dropLines.select(col("h"), col("llen"), lit(true).as("_drop")),
        Seq("h", "llen"), "left")
      .groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(first(col("n_lines")).as("n_lines"),
        count(when(col("_drop").isNull, 1)).as("n_kept"),
        polyHash(array_join(transform(
          array_sort(collect_list(when(col("_drop").isNull,
            struct(col("pos"), col("line"))))),
          p => p.getField("line")), "\n")).as("_fp"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        when(col("n_kept") > 0, col("_fp")).as("clean_fingerprint"))
  }

  /** Streaming face of [[graft.operators.TextOps.corpusMix]] — the ingest
    * filter: per-row keep/drop against the PRE-COMPUTED per-source integer
    * thresholds ([[graft.operators.TextOps.mixThresholds]] over the corpus
    * inventory, broadcast stream-static). Stateless row-local projection —
    * the content-hash bucket makes the decision reproducible across
    * engines, retries, and batch/stream faces for the same document. */
  def corpusMixStream(docs: DataFrame, thresholds: DataFrame): DataFrame = {
    docs
      .withColumn("_bkt", graft.functions.TextHash.sampleBucket(
        graft.functions.HashExpressions.polyHash(col("text")), 1000000))
      .join(broadcast(thresholds), "source")
      .where(col("_bkt") < col("_thr"))
      .select(col("doc_id"), col("source"), col("text"))
  }

  /** Streaming per-source distribution-drift monitor: per minute and
    * source, the unigram KL divergence of that window's token distribution
    * against the STATIC corpus distribution
    * ([[graft.operators.TextOps.unigramSurprisals]] over the reference
    * corpus — drift is measured against history, which a micro-batch
    * cannot see). Two CHAINED windowed aggregations (Spark's multiple
    * stateful operators): per-minute (source, word) counts, then the
    * per-minute per-source combine keyed on `window_time` of the first
    * window. The per-word log ratio needs the window's own token total, so
    * the sum is decomposed as
    * `KL = (Σ c·ln c + Σ c·ln(N/c_w)) / n_s − ln n_s`
    * with both Σ terms accumulated exactly (rounded-decimal summands);
    * agreement with the batch [[graft.operators.TextOps.sourceDivergence]]
    * decomposition is to rounding placement (~1e-5), asserted in
    * StreamingSpec. Words absent from the reference corpus have no
    * surprisal and are dropped by the inner join — surface them with a
    * separate OOV count if needed. */
  def sourceDivergenceStream(docs: DataFrame, surprisals: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    val words = docs.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("source"),
        explode(split(col("text"), " ")).as("word"))
      .join(surprisals.select(col("word"), col("_lp")), "word")
    val swm = words
      .groupBy(window(col("_t"), "1 minute").as("w"), col("source"), col("word"))
      .agg(count(lit(1)).as("c"), max(col("_lp")).as("_lp"))
    swm
      .groupBy(window(window_time(col("w")), "1 minute").as("w2"), col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * round(log(col("c").cast("double")), 6)
          .cast("decimal(18,6)")).as("_a"),
        sum(col("c") * col("_lp")).as("_b"))
      .select(col("w2.start").as("minute"), col("source"), col("n_tokens"),
        round((col("_a") + col("_b")).cast("double") /
            col("n_tokens").cast("double") -
          log(col("n_tokens").cast("double")), 6).as("kl_vs_corpus"))
  }

  /** Streaming face of [[graft.operators.TextOps.lmScore]]: per-doc unigram
    * cross-entropy of arriving documents against a STATIC reference
    * distribution ([[graft.operators.TextOps.unigramSurprisals]] over the
    * reference corpus — the ingest-time quality gate scores new data
    * against history, which a micro-batch cannot see; same static side as
    * [[sourceDivergenceStream]]). Tokens join stream-static (stateless),
    * the per-doc combine is one watermarked per-minute aggregation (a doc
    * row carries one event time, so a document never straddles windows).
    * Out-of-vocabulary tokens have no reference surprisal to price them:
    * they are COUNTED (`n_oov`), excluded from the entropy — on a stream
    * drawn from the reference distribution the face equals batch
    * [[graft.operators.TextOps.lmScore]] exactly (StreamingSpec).
    *
    * A document whose EVERY token is out-of-vocabulary therefore surfaces
    * as `n_tokens = 0`, `n_oov` = its length, `cross_entropy` NULL (0/0)
    * — deliberately emitted, not filtered: an all-OOV doc is the most
    * anomalous input a quality gate can see, and NULL-entropy +
    * `n_oov > 0` is the downstream drop signal (gate on
    * `cross_entropy IS NULL OR n_oov/(n_tokens+n_oov) > cap`, not on the
    * entropy alone). Pinned by StreamingSpec. */
  def lmScoreStream(docs: DataFrame, surprisals: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    val words = docs.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .join(surprisals.select(col("word"), col("_lp")), Seq("word"), "left")
    words.groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(count(when(col("_lp").isNotNull, 1)).as("n_tokens"),
        count(when(col("_lp").isNull, 1)).as("n_oov"),
        sum(col("_lp")).as("_s"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("_s").cast("double") / col("n_tokens"), 6)
          .as("cross_entropy"))
  }

  /** Streaming face of [[graft.operators.TextOps.knScore]]: KN-bigram
    * cross-entropy of ARRIVING documents under the FROZEN corpus model
    * — and, unlike the batch self-scorer, this face carries the full
    * interpolated-KN backoff, because new data is exactly where unseen
    * bigrams live. Static sides are the four
    * [[graft.operators.TextOps.knModelParts]] frames. Per bigram
    * (v, w) of an arrival:
    *
    *  - fitted bigram → the model's `_lp` verbatim (bit-identical to
    *    batch, so a replay of the training corpus equals
    *    [[graft.operators.TextOps.knScore]] exactly — StreamingSpec);
    *  - unseen (v, w), seen context v → the interpolation's backoff
    *    mass alone: D·N1+(v,·)/c(v) · Pcont(w);
    *  - unseen context v → Pcont(w) (the unigram-level continuation
    *    model — the standard KN recursion base);
    *  - unseen continuation w → Pcont = 1/(N1+(·,·)+1), one pseudo
    *    continuation type (documented convention; keeps every
    *    probability finite without a tuning knob).
    *
    * Backoff bigrams are COUNTED (`n_backoff`) so the gate can
    * distinguish "fluent but novel" from "priced by the model" — the
    * lmScoreStream n_oov discipline. Shape: row-local bigram explode,
    * three stream-static LEFT joins (model on (v,w); ctx on v; cont on
    * w — all stateless) + the broadcast 1-row type total, one
    * watermarked per-minute aggregation. */
  def knScoreStream(docs: DataFrame, model: DataFrame, ctx: DataFrame,
      cont: DataFrame, nTypes: DataFrame,
      discount: Double = graft.operators.TextOps.KnDiscount,
      timeCol: String = "event_time"): DataFrame = {
    val ws = split(col("text"), " ")
    val bg = docs.withWatermark(timeCol, WatermarkDelay)
      .where(size(ws) >= 2)
      .select(col(timeCol).as("_t"), col("doc_id"),
        explode(zip_with(
          slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => struct(a.as("v"), b.as("w")))).as("b"))
      .select(col("_t"), col("doc_id"),
        col("b.v").as("v"), col("b.w").as("w"))
      .join(model.select("v", "w", "_lp"), Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      .join(cont, Seq("w"), "left")
      .join(broadcast(nTypes))
    val nbD = col("n_bigram_types").cast("double")
    val pcont = coalesce(col("n1p_w").cast("double") / nbD,
      lit(1.0) / (nbD + lit(1.0)))
    val pBack = when(col("c_v").isNotNull,
        lit(discount) * col("n1p_v").cast("double") /
          col("c_v").cast("double") * pcont)
      .otherwise(pcont)
    val lp = coalesce(col("_lp"),
      round(-log(pBack), 6).cast("decimal(18,6)"))
    bg.select(col("_t"), col("doc_id"), col("_lp").isNull.as("_back"),
        lp.as("_lpe"))
      .groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("_back"), 1)).as("n_backoff"),
        sum(col("_lpe")).as("_s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        round(col("_s").cast("double") / col("n_bigrams"), 6)
          .as("cross_entropy"))
  }

  /** Streaming face of [[graft.operators.TextOps.decontaminate]] — the
    * ingest shape: every ARRIVING document is a train candidate, screened
    * against the FIXED held-out shingle set `testH` (one `h` column —
    * distinct shingle hashes of the benchmark suite; the batch face
    * derives it from the hash split, at ingest it is simply given).
    * Emits per-minute rows for documents with ≥ `minOverlap` distinct
    * held-out shingles — the drop-set, exactly like the batch face.
    *
    * Shape: row-local shingling, stream-static LEFT join against `testH`
    * (stateless), one watermarked per-minute aggregation. The batch
    * face's Bloom prune is deliberately absent: the filter binary would
    * be built ONCE at stream definition and frozen for the stream's
    * lifetime, and the stream-static join already probes a static side
    * Spark keeps readily joinable per micro-batch — measured-on-batch,
    * the prune only pays when the probed stream dwarfs the static side
    * WITHIN one plan (DECISIONS.md), which a micro-batch never does. */
  def decontaminateStream(docs: DataFrame, testH: DataFrame, w: Int,
      minOverlap: Int = 1, timeCol: String = "event_time"): DataFrame = {
    val sh = docs.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("doc_id"),
        explode(array_distinct(graft.functions.HashExpressions
          .shingleHashes(col("text"), w))).as("h"))
      .join(testH.select(col("h"), lit(true).as("_hit")), Seq("h"), "left")
    sh.groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("_hit"), 1)).as("n_in_test"))
      .where(col("n_in_test") >= minOverlap)
      .select(col("doc_id"), col("n_shingles"), col("n_in_test"),
        (col("n_in_test").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** Streaming face of [[graft.operators.SimilarityOps
    * .incrementalSemanticDedup]] — the embedding-space ingest screen,
    * completing the dedup ingest matrix (minhash:
    * [[incrementalDedupStream]], lines: [[lineDedupStream]], spans:
    * [[removeRepeatedSpansStream]]): every ARRIVING vector is assigned to
    * its cell ROW-LOCALLY (the collected-centroid `greatest` expression,
    * [[graft.operators.SimilarityOps.cellExprFor]] — cell geometry is
    * corpus-global, frozen at stream definition; the k×dim centroid
    * collect is the eager tiny-build convention, like decontaminate's
    * Bloom) and compared against the PRE-ASSIGNED corpus
    * ([[graft.operators.SimilarityOps.assignCells]] output) by a
    * stream-static same-cell join; one watermarked per-minute aggregation
    * emits `(vec_id, cell, kept)` — kept=false when some corpus vector in
    * the cell reaches `threshold` cosine. Batch-face parity incl. the
    * empty-cell and zero-norm conventions (StreamingSpec). */
  def semanticDedupStream(deltaEmb: DataFrame, corpusCells: DataFrame,
      centroids: DataFrame, threshold: Double,
      timeCol: String = "event_time"): DataFrame = {
    import graft.functions.VectorExpressions
    val cents = centroids.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val assigned = deltaEmb.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("vec_id"),
        col("embedding").as("_de"),
        sqrt(VectorExpressions.floatDot(col("embedding"), col("embedding")))
          .as("_dn"),
        graft.operators.SimilarityOps.cellExprFor(col("embedding"), cents)
          .as("cell"))
    assigned
      .join(corpusCells.select(col("cell"), col("_e"), col("_nrm")),
        Seq("cell"), "left")
      .withColumn("_sim", when(col("_dn") * col("_nrm") > 0,
        round(VectorExpressions.floatDot(col("_de"), col("_e")) /
          (col("_dn") * col("_nrm")), 6)))
      .groupBy(window(col("_t"), "1 minute"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        (count(when(col("_sim") >= threshold, 1)) === 0).as("kept"))
      .select("vec_id", "cell", "kept")
  }

  /** Streaming face of [[graft.operators.TextOps.removeRepeatedSpans]] —
    * the ingest-time rewrite: every ARRIVING document has its repeated
    * passages excised against the FIXED corpus-frequency duplicate-shingle
    * set `dupH` (one `h` column —
    * [[graft.operators.TextOps.repeatedShingleSet]] over the corpus; the
    * batch face derives it inline, at ingest it is simply given — the
    * [[decontaminateStream]] / [[lineDedupStream]] convention).
    *
    * Shape: row-local shingling, stream-static LEFT join against `dupH`
    * (stateless), one watermarked per-minute aggregation that re-collects
    * each doc's MATCHED positions, then a fully ROW-LOCAL rebuild. The
    * batch face's gaps-and-islands runs through a window function, which
    * streaming aggregations cannot host — but on the collected sorted
    * position array the same runs are pure array algebra: run starts are
    * positions whose predecessor is absent, run ends positions whose
    * successor is absent, zipped into [a, min(end+w-1, n_tokens)]
    * intervals, length-filtered, and applied with the batch face's exact
    * indexed token filter. Output schema and semantics match the batch
    * face row-for-row (StreamingSpec parity, incl. the no-span and
    * all-removed fingerprint conventions). */
  def removeRepeatedSpansStream(docs: DataFrame, dupH: DataFrame, w: Int,
      minSpanTokens: Int, timeCol: String = "event_time"): DataFrame = {
    val hashes = graft.functions.HashExpressions
    val pos = docs.withWatermark(timeCol, WatermarkDelay)
      .select(col(timeCol).as("_t"), col("doc_id"), col("text"),
        posexplode(hashes.shingleHashes(col("text"), w)).as(Seq("_p0", "h")))
      .select(col("_t"), col("doc_id"), col("text"),
        (col("_p0") + 1).cast("long").as("i"), col("h"))
      .join(dupH.select(col("h"), lit(true).as("_hit")), Seq("h"), "left")
    val agg = pos.groupBy(window(col("_t"), "1 minute"), col("doc_id"))
      .agg(first(col("text")).as("_text"),
        sort_array(collect_list(when(col("_hit"), col("i")))).as("_ps"))
    val nTok = size(split(col("_text"), " ")).cast("long")
    val ps = col("_ps")
    // gaps-and-islands over the sorted matched positions, row-locally:
    // element_at is 1-based, the lambda index 0-based, so the predecessor
    // of the element at index i0 is element_at(ps, i0).
    val starts = filter(ps, (p, i0) =>
      (i0 === 0) || (element_at(ps, i0) =!= p - 1))
    val ends = filter(ps, (p, i0) =>
      (i0 === size(ps) - 1) || (element_at(ps, i0 + 2) =!= p + 1))
    val ivs = filter(
      zip_with(starts, ends, (a, e) =>
        struct(a.as("a"), least(e + lit((w - 1).toLong), nTok).as("b"))),
      v => v.getField("b") - v.getField("a") + 1 >= minSpanTokens)
    val ws = split(col("_text"), " ")
    // the interval array is LET-BOUND (the q139 rule): captured inside
    // the per-word lambda it re-ran the whole gaps-and-islands algebra
    // per word — quadratic in document length
    def let(value: Column)(body: Column => Column): Column =
      element_at(transform(array(value), v => body(v)), 1)
    val kept = let(ivs) { iv =>
      filter(ws, (_, i0) => !exists(iv,
        v => i0 + 1 >= v.getField("a") && i0 + 1 <= v.getField("b")))
    }
    agg.select(
      col("doc_id"), nTok.as("n_tokens"),
      when(size(ivs) === 0, lit(0L))
        .otherwise(nTok - size(kept)).as("n_removed"),
      size(ivs).cast("long").as("n_spans"),
      when(size(ivs) === 0, hashes.polyHash(col("_text")))
        .when(size(kept) === 0, lit(null).cast("long"))
        .otherwise(hashes.polyHash(concat_ws(" ", kept)))
        .as("clean_fingerprint"))
  }

  /** True id-dedup within the watermark horizon: repeats of `idCols` are
    * dropped regardless of their event time, as long as they arrive within
    * the watermark delay of the first occurrence — state is still evictable
    * because expiry is tracked per key. */
  def dedupStreamById(df: DataFrame, timeCol: String, idCols: Seq[String]): DataFrame =
    df.withWatermark(timeCol, WatermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** E2/S6 faithful cascade, stage-2 subscription: a streaming read of the
    * window-event TOPIC an upstream query appends to — here a parquet
    * directory, the file-based analog of the reference's emit path where the
    * sessionizer publishes window events and downstream algorithms consume
    * them (processor/main.py:356-369). The file source replays
    * deterministically from the checkpoint on restart, so a stage-1 sink +
    * stage-2 source compose into an exactly-once cascade. */
  def sessionTopic(spark: SparkSession, dir: String): Dataset[SessionOut] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionOut]].schema)
      .parquet(dir)
      .as[SessionOut]
  }

  /** Stage-2 aggregation of the cascade: per-trip braking load per minute of
    * session start, computed from EMITTED session windows (not raw
    * telemetry) — the downstream-algorithm role of the reference's
    * per-window metric queries. Append mode: rows finalize when the
    * watermark passes the minute. */
  def sessionMinuteAgg(sessions: DataFrame): DataFrame =
    sessions
      .withWatermark("time_from", WatermarkDelay)
      .groupBy(window(col("time_from"), "1 minute").as("w"), col("trip_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_samples")).as("brake_s"))
      .select(col("w.start").as("minute"), col("trip_id"),
        col("n_sessions"), col("brake_s"))

  /** One emitted per-session statistic — the streaming face of
    * [[graft.ztbus.Algorithms.brakeSessionStats]]' long-form output
    * (trip, session window, column, stat, value). */
  final case class SessionStat(
      trip_id: Long, time_from: Timestamp, time_to: Timestamp,
      n_samples: Long, column: String, stat: String, value: Option[Double])

  /** Running values per stats column in [[RunState]]`.accs`. */
  private val AccSlots = 5

  /** The doubles packed in [[RunState]]`.accs`, readable and writable. */
  private def accView(accs: Array[Byte]): java.nio.DoubleBuffer =
    java.nio.ByteBuffer.wrap(accs).asDoubleBuffer()

  /** The 16 stats columns as typed extractors, ordered EXACTLY as
    * `Algorithms.statsColumns` (asserted in StreamingSpec); GNSS columns are
    * nullable and nulls are skipped, matching pandas describe / Spark aggs. */
  private[graft] val statsExtractors: Seq[Telemetry => Option[Double]] = Seq(
    t => Some(t.electric_power_demand),
    t => Some(t.traction_brake_pressure),
    t => Some(t.traction_traction_force),
    _.gnss_altitude, _.gnss_course, _.gnss_latitude, _.gnss_longitude,
    t => Some(t.odometry_articulation_angle),
    t => Some(t.odometry_steering_angle),
    t => Some(t.odometry_vehicle_speed),
    t => Some(t.odometry_wheel_speed_fl), t => Some(t.odometry_wheel_speed_fr),
    t => Some(t.odometry_wheel_speed_ml), t => Some(t.odometry_wheel_speed_mr),
    t => Some(t.odometry_wheel_speed_rl), t => Some(t.odometry_wheel_speed_rr))

  /** Telemetry in `(time, id)` order — the batch window's exact sort, so
    * duplicate timestamps tiebreak as batch does. */
  private val byTimeId: Ordering[Telemetry] = (a, b) => {
    val c = java.lang.Long.compare(a.time.getTime, b.time.getTime)
    if (c != 0) c else java.lang.Long.compare(a.id, b.id)
  }

  /** [[FlagSample]] has no id: on equal timestamps flagged samples go
    * first, so arrival order never decides a run. */
  private val byTimeFlaggedFirst: Ordering[FlagSample] = (a, b) => {
    val c = java.lang.Long.compare(a.time.getTime, b.time.getTime)
    if (c != 0) c else java.lang.Boolean.compare(b.flag, a.flag)
  }

  /** The flag-run protocol (W4/W6) behind both session faces, written once:
    * one trip's micro-batch slice as a `flatMapGroupsWithState` function
    * over [[RunState]], with `EventTimeTimeout`. Samples are taken in
    * `order`.
    *  - A flagged sample opens a run, or widens the open one (min start,
    *    max end: a late in-watermark flagged sample never regresses
    *    `lastMs`; `startMs` may move back across a false sample already
    *    seen), and folds its `cols` into the run's accumulators
    *    (in place: the open run owns its array).
    *  - A false sample at or after `lastMs` closes the run. A late false
    *    sample inside the open run is ignored and the run stays open:
    *    batch would split the run there, bounded state cannot
    *    (DECISIONS.md round 24).
    *  - The event-time timeout, 400 s past `lastMs`, closes a dangling run.
    *
    * `emit` turns a closed run into output rows. The timeout is one value
    * held in the group state, so no timer is ever superseded. */
  private def trackRuns[T, O](order: Ordering[T], timeMs: T => Long,
      flag: T => Boolean, cols: Seq[T => Option[Double]],
      emit: (Long, RunState) => Iterator[O])(
      tripId: Long, it: Iterator[T], state: GroupState[RunState]): Iterator[O] = {
    if (state.hasTimedOut) {
      val r = state.get
      state.remove()
      return emit(tripId, r)
    }
    def absorb(accs: Array[Byte], t: T): Array[Byte] = {
      if (cols.nonEmpty) {
        val a = accView(accs)
        var o = 0
        cols.foreach { f =>
          f(t) match {
            case Some(x) =>
              val n = a.get(o) + 1
              val d = x - a.get(o + 1)
              val mean = a.get(o + 1) + d / n
              a.put(o, n).put(o + 1, mean)
                .put(o + 2, a.get(o + 2) + d * (x - mean))
                .put(o + 3, if (n == 1) x else math.min(a.get(o + 3), x))
                .put(o + 4, if (n == 1) x else math.max(a.get(o + 4), x))
            case None => ()
          }
          o += AccSlots
        }
      }
      accs
    }
    // micro-batch iterators are not time-ordered; a trip's in-batch slice
    // is small (1 Hz), so an in-group sort is safe
    val out = Seq.newBuilder[O]
    var open = state.getOption
    it.toIndexedSeq.sorted(order).foreach { t =>
      val ms = timeMs(t)
      if (flag(t)) open = Some(open match {
        case Some(r) => RunState(math.min(r.startMs, ms),
          math.max(r.lastMs, ms), r.n + 1, absorb(r.accs, t))
        case None => RunState(ms, ms, 1L, absorb(
          new Array[Byte](cols.size * AccSlots * java.lang.Double.BYTES), t))
      })
      else open match {
        case Some(r) if ms >= r.lastMs => out ++= emit(tripId, r); open = None
        case _ => () // between runs, or late inside the open run
      }
    }
    open match {
      case Some(r) =>
        state.update(r)
        state.setTimeoutTimestamp(r.lastMs + SessionCloseMs)
      case None => state.remove()
    }
    out.result().iterator
  }

  /** A closed run's long-form stats rows: mean / std / min / max per
    * column, std rounded to 4 decimals as batch does. */
  private def statRows(tripId: Long, r: RunState): Iterator[SessionStat] = {
    val from = new Timestamp(r.startMs)
    val to = new Timestamp(r.lastMs)
    val a = accView(r.accs)
    graft.ztbus.Algorithms.statsColumns.iterator.zipWithIndex.flatMap {
      case (c, i) =>
        val o = i * AccSlots
        val n = a.get(o)
        def row(stat: String, v: Option[Double]) =
          SessionStat(tripId, from, to, r.n, c, stat, v)
        Seq(
          row("mean", if (n > 0) Some(a.get(o + 1)) else None),
          row("std", if (n > 1)
            Some(BigDecimal(math.sqrt(a.get(o + 2) / (n - 1)))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None),
          row("min", if (n > 0) Some(a.get(o + 3)) else None),
          row("max", if (n > 0) Some(a.get(o + 4)) else None))
    }
  }

  /** Streaming face of the 32 per-column brake-session stats algorithms
    * (reference other_metrics.py:41-246): per-session describe over all 16
    * columns, computed with O(columns) state per OPEN session (Welford
    * moments — no sample buffering) and emitted the moment the session
    * closes (flag drops) or the 400 s event-time timeout fires; the run
    * protocol is [[sessionize]]'s ([[trackRuns]]). Covers the
    * mergeable subset of the batch stats — mean / std / min / max
    * (+ n_samples); the exact interpolated quartiles are batch-only
    * ([[graft.ztbus.Algorithms.brakeSessionStats]]), since exact percentiles
    * need the whole session buffered — the documented bounded-state trade.
    * StreamingSpec asserts equality with the batch stats on the shared
    * columns (exact for min/max/n, 1e-9-relative for mean, 1e-4 for the
    * 4-decimal-rounded std). `flagCol` is the halt or park brake flag;
    * any other column throws `IllegalArgumentException` here, at the
    * call. */
  def sessionStatsStream(telemetry: Dataset[Telemetry], flagCol: String)(
      implicit spark: SparkSession): Dataset[SessionStat] = {
    import spark.implicits._
    val flag: Telemetry => Boolean = flagCol match {
      case "status_halt_brake_is_active" => _.status_halt_brake_is_active
      case "status_park_brake_is_active" => _.status_park_brake_is_active
      case other =>
        throw new IllegalArgumentException(s"unsupported session flag: $other")
    }
    telemetry
      .withWatermark("time", WatermarkDelay)
      .groupByKey(_.trip_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        trackRuns[Telemetry, SessionStat](byTimeId, _.time.getTime, flag,
          statsExtractors, statRows) _)
  }

  /** W4/W6 streaming — flag-delimited sessionization keyed by trip. A
    * session is a maximal contiguous run of `flag == true`; it is emitted
    * when a false sample arrives after an open run, or when the event-time
    * timeout (400 s past the last sample) fires — so runs straddling
    * micro-batch boundaries survive in state instead of needing the
    * reference's lookback loop. Late in-watermark data follows
    * [[trackRuns]]. */
  def sessionize(samples: Dataset[FlagSample])(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    samples
      .withWatermark("time", WatermarkDelay)
      .groupByKey(_.trip_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        trackRuns[FlagSample, SessionOut](byTimeFlaggedFirst, _.time.getTime,
          _.flag, Nil, (trip, r) => Iterator.single(SessionOut(trip,
            new Timestamp(r.startMs), new Timestamp(r.lastMs), r.n))) _)
  }

  /** One arriving doc for [[domainTokenCapStream]]. */
  final case class DomainDoc(domain: String, doc_id: Long,
      time: Timestamp, n_tokens: Long)

  /** The cap verdict for one arrival. */
  final case class DomainCapOut(domain: String, doc_id: Long,
      cum_tokens: Long, keep: Boolean)

  /** Streaming face of [[graft.operators.UrlOps.domainTokenCap]] — a
    * RUNNING per-domain token budget enforced across micro-batches via
    * `flatMapGroupsWithState` (state: one Long per domain, the
    * cumulative admitted-token total). Contract divergence from the
    * batch op, stated rather than hidden: the batch cap is
    * greedy-by-QUALITY (it can sort the whole corpus); a stream cannot
    * sort the future, so admission is greedy in (event-time, doc_id)
    * arrival order within each batch — the honest online analogue.
    * The first doc of a domain is always admitted (batch parity), and
    * ONLY admitted docs consume budget, so one over-budget arrival
    * cannot starve later small docs the batch op would also have
    * skipped over. Consequently `cum_tokens` here is the ADMITTED
    * running total (a rejected row repeats the prior total), where the
    * batch op's `cum_tokens` is the inclusive window sum over all docs
    * — reconcile on `keep`, not on the totals. State is one Long per
    * DOMAIN (no timeout): bounded by registered-domain cardinality
    * (~10⁷ at web scale, tens of MB), not by arrival volume — the
    * per-key-space-bounded exception to this file's
    * watermark-bounds-the-state rule. */
  def domainTokenCapStream(docs: Dataset[DomainDoc], tokenBudget: Long)(
      implicit spark: SparkSession): Dataset[DomainCapOut] = {
    import spark.implicits._
    docs.groupByKey(_.domain)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (domain: String, it: Iterator[DomainDoc],
            state: GroupState[Long]) => {
          var cum = state.getOption.getOrElse(0L)
          var first = !state.exists
          val out = Seq.newBuilder[DomainCapOut]
          it.toIndexedSeq.sortBy(d => (d.time.getTime, d.doc_id))
            .foreach { d =>
              val admitted = first || cum + d.n_tokens <= tokenBudget
              if (admitted) cum += d.n_tokens
              first = false
              out += DomainCapOut(domain, d.doc_id, cum, admitted)
            }
          state.update(cum)
          out.result().iterator
        }
      }
  }

  // ---------------------------------------- substring/stats ingest faces

  /** Ingest face of [[graft.operators.SpanDedupOps.crossDocSpans]] — each
    * ARRIVING doc screened against the FROZEN corpus gram index
    * ([[graft.operators.SpanDedupOps.gramIndex]]): how much of the
    * arrival duplicates corpus content verbatim, and the longest such
    * run. Gram explode → stream-static left join → one per-(window, doc)
    * aggregate; the longest-run merge cannot use a row window in a
    * streaming plan, so it folds the collected match positions with a
    * single `aggregate` HOF over the sorted array (bounded by the
    * arrival's own gram count). Re-fit the index → restart, the standing
    * static-index rule. */
  def crossDocScreenStream(docs: DataFrame, index: DataFrame, k: Int = 3,
      timeCol: String = "event_time"): DataFrame = {
    // gram identity is the composite (h, glen) — must match the frozen
    // index's key exactly: the SAME one-pass GramHashLens kernel
    // SpanDedupOps.gramTable scans with (r14 verdict item 8; the r15
    // kernel — identical (h, glen) values by construction, and no gram
    // string is ever materialized)
    val exploded = docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        posexplode_outer(
          graft.functions.HashExpressions.gramHashLens(col("text"), k))
          .as(Seq("p0", "g")))
      .select(col("window"), col("doc_id"),
        (col("p0") + 1).cast("int").as("pos"),
        col("g.h").as("h"), col("g.glen").as("glen"))
      .join(index.select(col("h"), col("glen"), col("df")),
        Seq("h", "glen"), "left")
    val agg = exploded.groupBy(col("window"), col("doc_id")).agg(
      count(col("pos")).as("n_grams"),
      count(col("df")).as("n_dup"),
      sort_array(collect_list(when(col("df").isNotNull, col("pos"))))
        .as("_ps"))
    val maxRun = aggregate(col("_ps"),
      struct(lit(-2).as("prev"), lit(0).as("cur"), lit(0).as("best")),
      (acc, p) => {
        val cur = when(p === acc.getField("prev") + 1,
          acc.getField("cur") + 1).otherwise(lit(1))
        struct(p.as("prev"), cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
    agg.select(col("window"), col("doc_id"), col("n_grams"), col("n_dup"),
      when(col("n_grams") > 0,
        round(col("n_dup").cast("double") / col("n_grams"), 6))
        .as("dup_frac"),
      when(col("n_dup") > 0, maxRun + lit(k - 1)).otherwise(lit(0))
        .cast("long").as("max_run_words"))
  }

  /** Ingest face of [[graft.operators.CorpusStatsOps.robustOutliers]] —
    * arrivals scored against the FROZEN per-group median/MAD baseline
    * ([[graft.operators.CorpusStatsOps.robustStats]]): the anomaly gate
    * runs per row with a broadcast group-stats join, completely
    * stateless (an ingest batch must be judged against the fitted
    * baseline, never against its own skewed statistics). */
  def robustOutlierStream(docs: DataFrame, stats: DataFrame,
      group: String, value: Column, zThresh: Double = 3.0,
      timeCol: String = "event_time"): DataFrame = {
    import graft.operators.CorpusStatsOps.robustZ
    val z = robustZ(col("_v"), col("med"), col("mad"))
    docs.select(col(timeCol), col("doc_id"), col(group).as("grp"),
        value.cast("double").as("_v"))
      .join(broadcast(stats), Seq("grp"))
      .select(col(timeCol), col("doc_id"), col("grp"),
        col("_v").as("v"), z.as("robust_z"),
        coalesce(abs(z) > zThresh, lit(false)).as("is_outlier"))
  }

  /** Ingest face of [[graft.operators.RegressionOps.ridge2Score]] — the
    * distilled cheap quality score applied to arrivals with the FROZEN
    * 1-row model (fit batch-side on the reference corpus; scoring is
    * pure row-local arithmetic after a broadcast single-row join). */
  def ridgeScoreStream(docs: DataFrame, model: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    val (x1, x2) = graft.operators.RegressionOps.qualityFeatures(col("text"))
    docs.select(col(timeCol), col("doc_id"),
        x1.as("_x1"), x2.as("_x2"), lit(1).as("_k"))
      .join(broadcast(model.withColumn("_k", lit(1))), Seq("_k"))
      .select(col(timeCol), col("doc_id"),
        round(col("w0") + col("w1") * col("_x1")
          + col("w2") * col("_x2"), 6).as("y_hat"))
  }

  /** Ingest face of [[graft.operators.WinnowOps.fingerprintPairs]] — each
    * arrival's winnowed fingerprint set probed against the FROZEN corpus
    * fingerprint index: which corpus docs share ≥ `minShared` selected
    * hashes (partial-overlap alerting). The arrival's fingerprints are
    * computed with [[graft.operators.WinnowOps.fingerprintHashes]] — the
    * HOF form, zero shuffle — because streaming plans cannot run the
    * batch operator's per-doc row window; WinnowSpec pins the two forms
    * to identical hash sets. */
  def winnowScreenStream(docs: DataFrame, fpIndex: DataFrame,
      minShared: Long = 1L, timeCol: String = "event_time"): DataFrame = {
    docs.withWatermark(timeCol, WatermarkDelay)
      .select(window(col(timeCol), "1 minute").as("window"), col("doc_id"),
        explode(graft.operators.WinnowOps.fingerprintHashes(col("text")))
          .as("h"))
      .join(fpIndex.select(col("did").as("src_id"), col("h")).distinct(),
        Seq("h"))
      .groupBy(col("window"), col("doc_id"), col("src_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Within-stream exact dedup — the stream-side complement of the
    * stream-static [[incrementalDedupStream]] family: arrivals are
    * deduplicated against EACH OTHER on the content fingerprint using
    * Spark's watermark-bounded dedup state
    * (`dropDuplicatesWithinWatermark`), so a burst of syndicated
    * copies collapses to one survivor at the ingest edge before any
    * corpus index is consulted. State is bounded by the watermark
    * horizon — the fingerprint set ages out instead of growing
    * forever, which is the only honest contract for an unbounded
    * stream (an exact-forever guarantee belongs to the batch/static
    * index, not the stream). */
  def streamDedupStream(docs: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    // the dedup key is (polyHash, xxhash64, length): polyHash alone is
    // mod 1e9+7 (~2^30), where birthday collisions — i.e. FALSE DROPS,
    // unauditable in a physically-dropping face — are expected within a
    // watermark window at ~n²/2P (≈5 per 100k in-window docs). The
    // composite widens the space to ~2^94: independent hash families
    // (polynomial-mod vs xxhash64) plus the exact length make a false
    // drop need a simultaneous 3-way collision, ~1 per 10^13 windows at
    // the same volume. State cost: +16 bytes per in-window distinct doc.
    docs.withWatermark(timeCol, WatermarkDelay)
      .withColumn("content_fp",
        graft.functions.HashExpressions.polyHash(col("text")))
      .withColumn("content_fp64", xxhash64(col("text")))
      .withColumn("content_len", length(col("text")).cast("long"))
      .dropDuplicatesWithinWatermark("content_fp", "content_fp64",
        "content_len")
  }

  /** One canonicalized arrival for [[urlDedupStream]]. */
  final case class UrlDocIn(doc_id: Long, url_canon: String,
      domain: String, event_time: Timestamp)

  /** One audited verdict from [[urlDedupStream]]: every arrival comes
    * back out, keepers and copies alike. */
  final case class UrlDedupOut(doc_id: Long, url_canon: String,
      domain: String, event_time: Timestamp, keeper_id: Long,
      n_seen: Long, keep: Boolean)

  /** Per-canonical-URL first-seen keeper state: the keeper id and the
    * running arrival count within the watermark horizon. */
  private[streaming] final case class UrlKeyState(
      keeperId: Long, nSeen: Long, lastMs: Long)

  /** Within-stream exact-URL dedup — the ingest twin of the q181 batch
    * semantics ([[graft.operators.UrlOps.urlDedup]]), composed over
    * [[graft.operators.UrlOps.canonicalize]]: arrivals dedup against
    * each other on the FULL canonical-URL string (exact key, no
    * hash-collision false drops).
    * Crawl frontiers refetch the same resource in bursts —
    * tracking-param variants, fragments, case — so the stage-zero drop
    * point is the ingest edge.
    *
    * AUDITABLE like the batch face (r14 verdict item 4 — the audit half
    * of the r13 streamDedup advisory): where the previous
    * `dropDuplicatesWithinWatermark` physically discarded copies, this
    * face emits EVERY arrival with its keeper attribution — `keeper_id`
    * (the first-seen doc for the key within the horizon), `n_seen` (the
    * running copy count at this arrival — the online analogue of the
    * batch `n_copies` total, which a stream cannot know until the key
    * expires), and `keep` (true exactly for the first-seen arrival, so
    * `where(keep)` reproduces the old dropping face's output).
    * State is one (long, long, long) per distinct in-horizon canonical
    * URL, expired by event-time timeout at the same 400 s horizon that
    * bounded the drop variant's state. NULL canonical URLs (NULL source
    * url) mirror the batch rule: each row is its own keeper, never
    * grouped, and holds no state. */
  def urlDedupStream(docs: DataFrame,
      timeCol: String = "event_time"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.UrlOps.canonicalize(
        docs, col("doc_id"), col("url"), keep = Seq(timeCol))
      .select(col("doc_id").cast("long").as("doc_id"), col("url_canon"),
        col("domain"), col(timeCol).cast("timestamp").as("event_time"))
      .withWatermark("event_time", WatermarkDelay)
      .as[UrlDocIn]
      .groupByKey(_.url_canon)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(processUrlKey)
      .toDF()
  }

  private[streaming] def processUrlKey(key: String, it: Iterator[UrlDocIn],
      state: GroupState[UrlKeyState]): Iterator[UrlDedupOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    // micro-batch iterators are not time-ordered; a key's in-batch rows
    // are its refetch burst — small — so an in-group sort is safe
    val rows = it.toIndexedSeq.sortBy(d => (d.event_time.getTime, d.doc_id))
    if (key == null) {
      // batch parity (UrlOps.urlDedup): no shared evidence — each
      // no-URL doc is its own keeper; stateless by construction
      return rows.iterator.map(d => UrlDedupOut(d.doc_id, d.url_canon,
        d.domain, d.event_time, d.doc_id, 1L, keep = true))
    }
    val out = Seq.newBuilder[UrlDedupOut]
    var st = state.getOption
    rows.foreach { d =>
      st match {
        case None =>
          st = Some(UrlKeyState(d.doc_id, 1L, d.event_time.getTime))
          out += UrlDedupOut(d.doc_id, key, d.domain, d.event_time,
            d.doc_id, 1L, keep = true)
        case Some(s) =>
          st = Some(UrlKeyState(s.keeperId, s.nSeen + 1,
            math.max(s.lastMs, d.event_time.getTime)))
          out += UrlDedupOut(d.doc_id, key, d.domain, d.event_time,
            s.keeperId, s.nSeen + 1, keep = false)
      }
    }
    state.update(st.get)
    state.setTimeoutTimestamp(st.get.lastMs + SessionCloseMs)
    out.result().iterator
  }

  /** Per-micro-batch corpus-health monitor — a `foreachBatch` sink that
    * runs the BATCH [[graft.operators.CorpusStatsOps.zipfDiagnostics]]
    * over each arriving micro-batch and appends the stat rows (stamped
    * with the batch id) under `outDir`. The Zipf fit needs a
    * rank-per-group window plus a second aggregation — both unsupported
    * inside a streaming plan — so the correct face is the cdcApplySink
    * pattern: foreachBatch hands the micro-batch to the batch operator
    * verbatim, which also makes stream/batch parity DEFINITIONAL (the
    * spec pins it row-for-row). A monitoring dashboard then reads the
    * appended parquet as an ordinary table and alerts on slope/hapax
    * drift across batches.
    *
    * Idempotent per batch: the stat rows land under
    * `outDir/batch_id=<id>/` and the write REPLACES that one partition
    * (dynamic partition overwrite), so a micro-batch replayed after a
    * failure rewrites its own rows instead of appending duplicates that
    * would skew the drift monitor. */
  def corpusStatsSink(outDir: String,
      group: String = "lang"): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      graft.operators.CorpusStatsOps.zipfDiagnostics(
          batch, col(group), col("text"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)
    }
  }
}
