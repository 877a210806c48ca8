package graft.ztbus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact._
import graft.operators.{CoreOps, Fanout}

/** The reference's six live algorithms re-expressed as ONE collapsed Spark
  * plan (SURVEY.md §3 E3, §7): where the reference runs
  * 1 + N + 5·N gRPC round-trips per minute (FindActiveBusses fan-out then
  * five independent per-window pull-queries), this computes every metric for
  * every (minute, trip, bus, route) key in a single pass:
  *
  *   telemetry → per-trip ordered diffs (accel/jerk) → groupBy(minute, trip)
  *   → all aggregates at once → broadcast-join trips for (bus_id, route_id)
  *
  * Two shuffles total (one for the trip-partitioned window sort, one for the
  * aggregation — and they share the trip_id partitioning). At 100 TB this is
  * the difference between a scan per algorithm per window and one scan,
  * period.
  *
  * Fidelity note (SURVEY §2.4): the reference queries four of the five
  * metrics with trip_id=None — aggregating over ALL buses per minute despite
  * emitting per-trip results (processor/main.py:481,524,554,584; likely an
  * upstream bug). We implement the per-trip grouping as the primary
  * semantic; `globalPerMinute = true` reproduces the reference behavior.
  */
object Algorithms {

  /** Registry mirroring `@proc.algorithm(name, version, windowType)`
    * (reference processor/main.py:342,449,474,518,547,577). The transform's
    * output columns are that algorithm's StructResult fields. */
  final case class Algorithm(
      name: String,
      version: String,
      trigger: (String, String),
      resultCols: Seq[String])

  val registry: Seq[Algorithm] = Seq(
    Algorithm("FindActiveBusses", "1.0.0", WindowTypes.EveryMinute,
      Seq("active_buses")),
    Algorithm("AmbientTemperature", "1.1.0",
      WindowTypes.EveryMinutePerTripPerBus, Seq("temp_50p")),
    Algorithm("EnergyEfficiencyPerMinute", "1.0.0",
      WindowTypes.EveryMinutePerTripPerBus,
      Seq("kwh", "kwh_per_km", "kwh_per_passenger_km")),
    Algorithm("ServiceEfficiencyPerMinute", "1.0.0",
      WindowTypes.EveryMinutePerTripPerBus,
      Seq("dwell_time_s", "door_open_fraction")),
    Algorithm("ComfortAndSafetyPerMinute", "1.0.0",
      WindowTypes.EveryMinutePerTripPerBus,
      Seq("accel_mean", "accel_std", "jerk_p95")),
    Algorithm("AssetStressPerMinute", "1.0.0",
      WindowTypes.EveryMinutePerTripPerBus,
      Seq("articulation_var", "brake_pressure_mean")))

  /** The 32 commented-out per-column stats algorithms (reference
    * other_metrics.py:41-246): 16 columns × 2 brake-session triggers, names
    * and versions matching the reference decorators (e.g.
    * `@proc.algorithm("GnssAltitudeHaltBrakeStats", "1.0.0",
    * HaltBrakeApplied)`, other_metrics.py:62). Computed by
    * [[brakeSessionStats]]; result fields mirror the reference StructResult
    * (other_metrics.py:28-37). */
  def statsRegistry: Seq[Algorithm] =
    Seq(("HaltBrake", WindowTypes.HaltBrakeApplied),
        ("ParkBrake", WindowTypes.ParkBrakeApplied)).flatMap {
      case (trig, windowType) => statsColumns.map(c =>
        Algorithm(s"${camelize(c)}${trig}Stats", "1.0.0", windowType,
          Seq("mean", "std", "min", "25p", "50p", "75p", "max")))
    }

  /** snake_case column → the reference's CamelCase algorithm-name prefix. */
  private[ztbus] def camelize(column: String): String =
    column.split('_').map(_.capitalize).mkString

  /** E2/S6 — the EveryMinutePerTripPerBus fan-out as WindowEvent rows
    * (faithful mode): one event per active (minute, trip, bus, route),
    * metadata mirroring processor/main.py:356-369. In the collapsed plan
    * these keys are the groupBy columns and no events materialize. */
  def fanOutWindowEvents(telemetry: DataFrame, trips: DataFrame): DataFrame =
    activeBusesPerMinute(telemetry, trips).select(
      col("minute").as("time_from"),
      (col("minute") + expr("INTERVAL 60 SECONDS")).as("time_to"),
      lit(WindowTypes.EveryMinutePerTripPerBus._1).as("name"),
      lit(WindowTypes.EveryMinutePerTripPerBus._2).as("version"),
      lit("active_bus_emitter").as("origin"),
      map(
        lit("trip_id"), col("trip_id").cast("string"),
        lit("bus_id"), col("bus_id").cast("string"),
        lit("route_id"), col("route_id").cast("string")).as("metadata"))

  /** Minute bucket of the sample time — closed-interval window membership
    * note: the reference's BETWEEN makes boundary samples belong to two
    * adjacent windows (SURVEY §2.2 P3); date_trunc assigns each sample to
    * exactly one window. We keep half-open windows as the primary semantic
    * (each 1 Hz sample counted once — the double-count is a reference
    * artifact) and document the deviation. */
  private def minuteOf(time: Column): Column = date_trunc("minute", time)

  /** J1 + A1: distinct active (trip, bus, route) per minute, with count.
    * `trips` is dimension-sized → broadcast; no fact-side shuffle before the
    * distinct. */
  def activeBusesPerMinute(telemetry: DataFrame, trips: DataFrame): DataFrame =
    telemetry
      .select(minuteOf(col("time")).as("minute"), col("trip_id"))
      .join(broadcast(trips.select(col("id"), col("bus_id"), col("route_id"))),
        col("trip_id") === col("id"))
      .select("minute", "trip_id", "bus_id", "route_id")
      .distinct()

  /** A1 per minute. `approx = true` is the fleet-scale mode: HyperLogLog++
    * over the (trip,bus,route) tuple skips `activeBusesPerMinute`'s exact
    * distinct entirely — one aggregation, no distinct shuffle, fixed sketch
    * memory per minute (error bounded in ApproxSpec). */
  def activeBusCount(telemetry: DataFrame, trips: DataFrame,
      approx: Boolean = false): DataFrame =
    if (approx)
      telemetry
        .select(minuteOf(col("time")).as("minute"), col("trip_id"))
        .join(broadcast(trips.select(col("id"), col("bus_id"), col("route_id"))),
          col("trip_id") === col("id"))
        .groupBy("minute")
        .agg(approx_count_distinct(
          struct(col("trip_id"), col("bus_id"), col("route_id")))
          .as("active_buses"))
    else
      activeBusesPerMinute(telemetry, trips)
        .groupBy("minute").agg(count(lit(1)).as("active_buses"))

  /** All five per-trip-per-minute metric algorithms in one aggregation.
    *
    * @param globalPerMinute reproduce the reference's trip_id=None behavior
    *        (aggregate the four non-temperature metrics across all trips in
    *        the minute) instead of the per-trip primary semantic. */
  def perMinuteMetrics(telemetry: DataFrame, trips: DataFrame,
      globalPerMinute: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("trip_id")).orderBy(col("time"), col("id"))
    val speed = coalesce(col("odometry_vehicle_speed"), lit(0.0))
    // W1/W2 — accel/jerk as ordered per-trip diffs, first value filled 0
    // (reference processor/main.py:563-565). The aggregation deliberately
    // REUSES the window's trip partitioning (no exchange between them);
    // re-spreading on (minute, trip) and a two-pass split plan were both
    // measured SLOWER — see DECISIONS.md round-3 entry.
    val withDiffs = telemetry
      .withColumn("accel", coalesce(
        col("odometry_vehicle_speed") - lag(col("odometry_vehicle_speed"), 1).over(w),
        lit(0.0)))
      .withColumn("jerk", coalesce(
        col("accel") - lag(col("accel"), 1).over(w), lit(0.0)))

    val groupKeys: Seq[Column] =
      if (globalPerMinute) Seq(minuteOf(col("time")).as("minute"))
      else Seq(minuteOf(col("time")).as("minute"), col("trip_id"))

    val power = coalesce(col("electric_power_demand"), lit(0.0))
    val passengers = coalesce(col("itcs_number_of_passengers"), lit(0))

    // r19 (guide §2.5 few-giant-keys): the aggregation deliberately rode
    // the window's trip partitioning (r3 decision) — but per-trip
    // parallelism is the TRIP COUNT, and the fixture's 3 multi-day trips
    // pin the percentile/variance buffers to 3 of 32 cores (QPlan: one
    // 3-task stage, 5.4 s max task). A size-gated keyed fan-out moves the
    // aggregation onto the (minute, trip) grain when the input is small;
    // at fleet scale trips are plentiful and it passes through, keeping
    // the exchange-free r3 shape.
    val agg = Fanout.spreadByKeys(withDiffs,
      if (globalPerMinute) Seq(minuteOf(col("time")))
      else Seq(minuteOf(col("time")), col("trip_id")))
      .groupBy(groupKeys: _*).agg(
      // AmbientTemperature (processor/main.py:465)
      percentile(col("temperature_ambient"), lit(0.5)).as("temp_50p"),
      // EnergyEfficiencyPerMinute (processor/main.py:493-513)
      dsum(power / 3600.0).as("kwh"),
      dsum(speed).as("dist_m"),
      dsum(passengers * speed).as("passenger_m"),
      // ServiceEfficiencyPerMinute (processor/main.py:533-543)
      countIf(col("status_door_is_open") &&
        col("odometry_vehicle_speed") < 0.1).as("dwell_time_s"),
      count(lit(1)).as("total_s"),
      // ComfortAndSafetyPerMinute (processor/main.py:567-573)
      davg(col("accel")).as("accel_mean"),
      stddev_samp(col("accel")).as("accel_std"),
      percentile(col("jerk"), lit(0.95)).as("jerk_p95"),
      // AssetStressPerMinute (processor/main.py:593-598)
      var_samp(col("odometry_articulation_angle")).as("articulation_var"),
      avg(col("traction_brake_pressure")).as("brake_pressure_mean"))

    val withRatios = agg
      .withColumn("kwh_per_km",
        guardedRatio(col("kwh"), col("dist_m") / 1000.0))
      .withColumn("kwh_per_passenger_km",
        guardedRatio(col("kwh"), col("passenger_m") / 1000.0))
      .withColumn("door_open_fraction",
        guardedRatio(col("dwell_time_s").cast("double"),
          col("total_s").cast("double")))

    if (globalPerMinute) withRatios
    else withRatios.join(
      broadcast(trips.select(col("id"), col("bus_id"), col("route_id"))),
      col("trip_id") === col("id"))
      .drop("id")
  }

  /** Unpivot the wide per-key metrics row into the reference's
    * result-per-algorithm shape: one row per (algorithm, version, key) with
    * a map payload — the S7 result-sink schema. */
  def asAlgoResults(metrics: DataFrame): DataFrame = {
    val perAlgo = registry.filter(_.trigger == WindowTypes.EveryMinutePerTripPerBus)
    val structs = perAlgo.map { a =>
      struct(
        lit(a.name).as("algorithm"),
        lit(a.version).as("version"),
        map(a.resultCols.flatMap(c =>
          Seq(lit(c), col(c).cast("double"))): _*).as("payload"))
    }
    metrics.select(
      col("minute"), col("trip_id"), col("bus_id"), col("route_id"),
      explode(array(structs: _*)).as("r"))
      .select(col("minute"), col("trip_id"), col("bus_id"), col("route_id"),
        col("r.algorithm"), col("r.version"), col("r.payload"))
  }

  /** Session windows: one row per maximal contiguous run of a status flag
    * per trip (HaltBrakeApplied / ParkBrakeApplied, reference
    * processor/main.py:299-337 + lookback :250-289). Whole-trip
    * gaps-and-islands — no cross-minute lookback needed (SURVEY §2.5 W6). */
  def brakeSessions(telemetry: DataFrame, flagCol: String): DataFrame =
    CoreOps.flagRuns(telemetry, Seq(col("trip_id")),
      Seq(col("time"), col("id")), col(flagCol),
      runStart = "time_from", runEnd = "time_to", runLen = "n_samples")

  /** Session runs → WindowEvent rows (the faithful-mode S6 sink shape). */
  def sessionsAsWindowEvents(sessions: DataFrame, windowType: (String, String),
      origin: String): DataFrame =
    sessions.select(
      col("time_from"), col("time_to"),
      lit(windowType._1).as("name"), lit(windowType._2).as("version"),
      lit(origin).as("origin"),
      map(lit("trip_id"), col("trip_id").cast("string")).as("metadata"))

  /** The 16 telemetry columns the reference's stats algorithms describe
    * (other_metrics.py:41-246 — the `_helper(column, ...)` arguments),
    * including the four GNSS columns (nullable: pandas describe and Spark
    * aggregates both skip nulls). */
  val statsColumns: Seq[String] = Seq(
    "electric_power_demand", "traction_brake_pressure",
    "traction_traction_force",
    "gnss_altitude", "gnss_course", "gnss_latitude", "gnss_longitude",
    "odometry_articulation_angle", "odometry_steering_angle",
    "odometry_vehicle_speed",
    "odometry_wheel_speed_fl", "odometry_wheel_speed_fr",
    "odometry_wheel_speed_ml", "odometry_wheel_speed_mr",
    "odometry_wheel_speed_rl", "odometry_wheel_speed_rr")

  /** The reference StructResult stats (other_metrics.py:28-37): pandas
    * describe's mean/std/min/25%/50%/75%/max. std is sample std (ddof=1);
    * percentiles are linearly interpolated — Spark's `percentile` matches
    * pandas exactly. std/percentiles rounded to 4 decimals (order-dependent
    * accumulation), mean via order-independent decimal sum.
    *
    * All three quartiles come from ONE `percentile(v, array(...))` aggregate
    * — the planner dedupes the semantically-equal aggregate under each
    * `element_at`, so each column costs one percentile buffer, not three
    * (same exact interpolation, same result hash; the 112-aggregate session
    * pass drops from 48 percentile buffers to 16). */
  private def describeAggs(c: String, approx: Boolean): Seq[Column] = {
    val v = col(c)
    val qs = array(lit(0.25), lit(0.50), lit(0.75))
    val pcts =
      if (approx) percentile_approx(v, qs, lit(10000))
      else percentile(v, qs)
    Seq(
      graft.functions.Exact.davg(v).as(s"${c}__mean"),
      round(stddev_samp(v), 4).as(s"${c}__std"),
      min(v).as(s"${c}__min"),
      round(element_at(pcts, 1), 4).as(s"${c}__25p"),
      round(element_at(pcts, 2), 4).as(s"${c}__50p"),
      round(element_at(pcts, 3), 4).as(s"${c}__75p"),
      max(v).as(s"${c}__max"))
  }

  private val DescribeStatNames = Seq("mean", "std", "min", "25p", "50p", "75p", "max")

  /** All 16 per-column stats over one brake-session trigger in ONE pass —
    * the real other_metrics semantics: the reference fires each of its 32
    * algorithms per emitted HaltBrakeApplied/ParkBrakeApplied session window
    * and re-reads that session's telemetry per algorithm
    * (other_metrics.py:5-13, windows.py:25-37); here every sample already
    * knows its session (gaps-and-islands run id), so all 112 aggregates run
    * in one shuffle with NO session × telemetry join — at 100 TB that is 32
    * scans collapsed into one. Output is long-form
    * (trip_id, time_from, time_to, n_samples, column, stat, value), one row
    * per algorithm result field. `approx = true` swaps the exact
    * interpolated percentiles for `percentile_approx` (GK sketch, fixed
    * memory per group) — the scale mode for giant sessions, same contract
    * as q24's approx aggregation mode. */
  def brakeSessionStats(telemetry: DataFrame, flagCol: String,
      approx: Boolean = false): DataFrame = {
    val aggs = statsColumns.flatMap(describeAggs(_, approx))
    val wide = CoreOps.flagRunAgg(
      telemetry, Seq(col("trip_id")), Seq(col("time"), col("id")),
      col(flagCol), aggs,
      runStart = "time_from", runEnd = "time_to", runLen = "n_samples",
      spreadAgg = true)
    val stacked = statsColumns.flatMap(c =>
      DescribeStatNames.map(st =>
        struct(lit(c).as("column"), lit(st).as("stat"),
          col(s"${c}__$st").as("value"))))
    wide.select(col("trip_id"), col("time_from"), col("time_to"),
        col("n_samples"), explode(array(stacked: _*)).as("r"))
      .select(col("trip_id"), col("time_from"), col("time_to"),
        col("n_samples"), col("r.column"), col("r.stat"), col("r.value"))
  }

  /** [[brakeSessionStats]] in the S7 result-sink shape: one row per
    * (algorithm, version, session window), payload keyed by the reference's
    * StructResult field names. */
  def brakeSessionStatsAsResults(telemetry: DataFrame, flagCol: String,
      windowType: (String, String)): DataFrame = {
    val trig = if (windowType == WindowTypes.ParkBrakeApplied) "ParkBrake"
      else "HaltBrake"
    val camelized = typedLit(statsColumns.map(c => c -> camelize(c)).toMap)
    brakeSessionStats(telemetry, flagCol)
      .groupBy(col("trip_id"), col("time_from"), col("time_to"), col("column"))
      .agg(map_from_entries(collect_list(struct(col("stat"), col("value"))))
        .as("payload"))
      .select(col("trip_id"), col("time_from"), col("time_to"),
        concat(element_at(camelized, col("column")), lit(s"${trig}Stats"))
          .as("algorithm"),
        lit("1.0.0").as("version"), lit(windowType._1).as("name"),
        col("payload"))
  }

  def describePerMinute(telemetry: DataFrame, column: String): DataFrame =
    CoreOps.describeStats(
      telemetry, Seq(minuteOf(col("time")).as("minute"), col("trip_id")),
      col(column))

  /** Per-minute describe over all 16 stats columns in ONE aggregation pass
    * (a single wide groupBy instead of 16 separate scans — 16× less I/O).
    * NOTE: an extension — the reference's stats algorithms trigger on brake
    * SESSION windows ([[brakeSessionStats]] is the faithful semantic); this
    * per-minute variant reuses the same template on the EveryMinute grid.
    * Output is long-form (minute, trip_id, column, stat, value) via an
    * unpivot, matching the result-per-algorithm sink shape. */
  def describeAllPerMinute(telemetry: DataFrame): DataFrame = {
    val aggs = statsColumns.flatMap { c =>
      val v = col(c)
      // One array-percentile buffer per column (see describeAggs).
      val pcts = percentile(v, array(lit(0.25), lit(0.50), lit(0.75)))
      Seq(
        count(v).cast("double").as(s"${c}__n"),
        min(v).as(s"${c}__vmin"),
        max(v).as(s"${c}__vmax"),
        round(element_at(pcts, 1), 4).as(s"${c}__p25"),
        round(element_at(pcts, 2), 4).as(s"${c}__p50"),
        round(element_at(pcts, 3), 4).as(s"${c}__p75"),
        graft.functions.Exact.davg(v).as(s"${c}__mean_v"))
    }
    val wide = telemetry
      .groupBy(minuteOf(col("time")).as("minute"), col("trip_id"))
      .agg(aggs.head, aggs.tail: _*)
    val stacked = statsColumns.flatMap(c =>
      Seq("n", "vmin", "vmax", "p25", "p50", "p75", "mean_v").map(st =>
        struct(lit(c).as("column"), lit(st).as("stat"),
          col(s"${c}__$st").as("value"))))
    wide.select(col("minute"), col("trip_id"),
        explode(array(stacked: _*)).as("r"))
      .select(col("minute"), col("trip_id"),
        col("r.column"), col("r.stat"), col("r.value"))
  }
}
