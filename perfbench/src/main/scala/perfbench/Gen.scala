package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ztbus.Trip

/** The benchmark's one seeded input generator. Every value is a pure
  * function of (seed, key), computed by Spark expressions (`xxhash64` as the
  * random source), so the same seed gives the same rows on any core count
  * and the program only ever sees the generated frames.
  *
  * Telemetry is 1 Hz per trip and plants the edge cases the ZTBus operators
  * must survive: brake runs that cross a minute boundary, runs already
  * active at a trip's first sample, NULL GNSS rows and whole minutes without
  * movement (the zero-denominator ratio path). */
object Gen {

  /** One trip to generate: `seconds` samples from `start`. */
  final case class TripSpec(id: Long, busId: Long, routeId: Long,
      start: Timestamp, seconds: Int)

  private def unit(h: Column): Column = pmod(h, lit(1000003L)) / 1000003.0

  def tripsDF(spark: SparkSession, specs: Seq[TripSpec]): DataFrame = {
    import spark.implicits._
    specs.map { t =>
      val end = new Timestamp(t.start.getTime + t.seconds * 1000L)
      Trip(t.id, s"trip-${t.id}", t.busId, t.routeId, t.start, end,
        t.seconds * 0.006, t.seconds * 0.0012, 20.0, 2, 60, 0.5, 8.0, 6.0, 10.0)
    }.toDF()
  }

  /** Telemetry for `specs`, in the program's 27-column schema. */
  def telemetry(spark: SparkSession, seed: Long, specs: Seq[TripSpec]): DataFrame = {
    val tripDf = spark.createDataFrame(specs.map(t =>
        (t.id, t.start, t.routeId.toInt, t.seconds)))
      .toDF("trip_id", "start_time", "route", "n")
    val maxSec = specs.map(_.seconds).max
    val parts = spark.sparkContext.defaultParallelism * 2
    val s = col("s")
    val tripHash = xxhash64(lit(seed), col("trip_id"))
    val tphase = pmod(tripHash, lit(997L))
    val rnd = (salt: Int) => unit(xxhash64(lit(seed), col("trip_id"), s, lit(salt)))
    val time = col("start_time") + expr("make_interval(0, 0, 0, 0, 0, 0, s)")
    val minute = floor(unix_seconds(col("time")) / 60)
    // every fourth trip starts inside a halt run (phase 0); the period and
    // length vary per trip so runs land across minute boundaries
    val haltPeriod = lit(89L) + pmod(tphase, lit(40L))
    val haltLen = lit(7L) + pmod(tphase, lit(13L))
    val haltPhase = when(pmod(col("trip_id"), lit(4L)) === 0, lit(0L))
      .otherwise(pmod(tripHash, lit(89L)))
    val still = pmod(minute + tphase, lit(11L)) === 3
    val speed = when(still, lit(0.0))
      .otherwise(lit(6.0) + lit(3.0) * sin((s + tphase) / 20.0) + rnd(1) * 0.5)
    val gnssNull = pmod(xxhash64(lit(seed), col("trip_id"), s, lit(7)), lit(13L)) === 0
    def gnss(c: Column): Column = when(gnssNull, lit(null).cast("double")).otherwise(c)
    spark.range(0, maxSec, 1, parts).withColumnRenamed("id", "s")
      .crossJoin(broadcast(tripDf))
      .where(s < col("n"))
      .withColumn("time", time)
      .withColumn("speed", speed)
      .withColumn("halt", pmod(s + haltPhase, haltPeriod) < haltLen)
      .select(
        (col("trip_id") * 10000000L + s).as("id"),
        col("trip_id"),
        col("time"),
        (lit(50.0) + lit(20.0) * cos(s / 15.0) + rnd(2) * 5.0)
          .as("electric_power_demand"),
        (lit(8.0) + pmod(s, lit(10L)) * 0.1 + pmod(tphase, lit(5L)))
          .as("temperature_ambient"),
        when(col("halt"), lit(5.0)).otherwise(lit(1.0) + rnd(3))
          .as("traction_brake_pressure"),
        (lit(1000.0) + pmod(s, lit(50L)) + rnd(4) * 10.0)
          .as("traction_traction_force"),
        gnss(lit(400.0) + s * 0.01).as("gnss_altitude"),
        gnss(pmod(s + tphase, lit(360L)).cast("double")).as("gnss_course"),
        gnss(lit(47.37) + s * 1e-5).as("gnss_latitude"),
        gnss(lit(8.54) + s * 1e-5).as("gnss_longitude"),
        col("route").as("itcs_bus_route_id"),
        (pmod(floor(s / 60) + tphase, lit(30L)) + 3).cast("int")
          .as("itcs_number_of_passengers"),
        concat(lit("stop-"), pmod(floor(s / 120) + tphase, lit(17L)))
          .as("itcs_stop_name"),
        (lit(2.0) * sin(s / 9.0)).as("odometry_articulation_angle"),
        (lit(10.0) * sin(s / 11.0)).as("odometry_steering_angle"),
        col("speed").as("odometry_vehicle_speed"),
        (col("speed") * 1.01).as("odometry_wheel_speed_fl"),
        (col("speed") * 0.99).as("odometry_wheel_speed_fr"),
        col("speed").as("odometry_wheel_speed_ml"),
        (col("speed") * 1.02).as("odometry_wheel_speed_mr"),
        (col("speed") * 0.98).as("odometry_wheel_speed_rl"),
        (col("speed") * 1.03).as("odometry_wheel_speed_rr"),
        (pmod(s + tphase, lit(120L)) < 10 || still).as("status_door_is_open"),
        (pmod(s, lit(2L)) === 0).as("status_grid_is_available"),
        col("halt").as("status_halt_brake_is_active"),
        (pmod(s + pmod(tripHash, lit(211L)), lit(211L)) < 3)
          .as("status_park_brake_is_active"))
  }

  val Epoch: Timestamp = graft.ztbus.Fixtures.SeedEpoch
  private val DayMs = 86400000L

  private def h(seed: Long, parts: Long*): Long =
    scala.util.hashing.MurmurHash3.seqHash(seed +: parts).toLong & 0x7fffffffL

  /** A fleet over `days` days: `buses` buses, `perDay` trips per bus and
    * day, 10–20 minutes each, starting at seed-dependent seconds. */
  def fleet(seed: Long, buses: Int, perDay: Int, days: Int): Seq[TripSpec] =
    for {
      d <- 0 until days; b <- 0 until buses; k <- 0 until perDay
    } yield {
      val start = Epoch.getTime - 14 * 3600000L + d * DayMs +
        (6 * 3600L + k * 3 * 3600L + h(seed, b, k, d) % 5400L) * 1000L
      TripSpec(1000L + (d * buses + b) * perDay + k, 500L + b, 30L + b % 6,
        new Timestamp(start), 600 + (h(seed, b, k, d, 1) % 600L).toInt)
    }

  /** A fleet all on the road at once for `minutes` minutes from [[Epoch]];
    * every sixth trip ends early so its state is evicted by a timer. */
  def liveFleet(seed: Long, trips: Int, minutes: Int): Seq[TripSpec] =
    (0 until trips).map { j =>
      val full = minutes * 60
      val n = if (j % 6 == 5) full / 2 + (h(seed, j) % (full / 3)).toInt else full
      TripSpec(5000L + j, 700L + j / 2, 40L + j % 4, Epoch, n)
    }

  /** Order-free digest of a frame: row count and the sum of a 32-bit hash
    * of every row, after doubles are rounded to `digits` decimals. */
  def digestCols(df: DataFrame, digits: Int = 6): Column = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), digits)
        case MapType(_, DoubleType | FloatType, _) =>
          array_sort(map_entries(transform_values(c, (_, v) => round(v.cast("double"), digits))))
        case MapType(_, _, _) => array_sort(map_entries(c))
        case _ => c
      }
    }
    sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL)))
  }
}
