package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{FlagSample, SessionOut}
import graft.ztbus.{Algorithms, Fixtures, Telemetry}

/** Runs both session faces, `sessionize` and `sessionStatsStream` on the
  * halt-brake flag, over one plan of micro-batches, for the tests that pin
  * the two faces to one run protocol. A sample is `(trip, second, flag)`
  * at `Base + second`; its telemetry row carries speed = second and an id
  * that puts flagged samples first on equal timestamps, the order
  * `sessionize` uses for `FlagSample`, or false samples first when
  * `falseFirst` is set. */
object SessionFaces {
  type Sample = (Long, Int, Boolean)
  /** One session: (trip, time_from, time_to, n_samples). */
  type Bounds = (Long, Timestamp, Timestamp, Long)

  val Base: Timestamp = Timestamp.valueOf("2021-03-09 14:15:00")
  def at(secs: Int): Timestamp = new Timestamp(Base.getTime + secs * 1000L)

  private val Flag = "status_halt_brake_is_active"
  private lazy val row0 = Fixtures.telemetry().head
  private val queries = new java.util.concurrent.atomic.AtomicInteger

  def telemetry(s: Sample, falseFirst: Boolean = false): Telemetry = row0.copy(
    id = s._1 * 1000000L + s._2 * 2L + (if (s._3 != falseFirst) 0L else 1L),
    trip_id = s._1, time = at(s._2), odometry_vehicle_speed = s._2.toDouble,
    status_halt_brake_is_active = s._3)

  /** What each face emitted: `sessionize`'s sessions, and per
    * `sessionStatsStream` session the speed column's (mean, min, max). */
  final case class Emitted(sessionize: Set[Bounds],
      speed: Map[Bounds, (Double, Double, Double)]) {
    def stats: Set[Bounds] = speed.keySet
  }

  /** Feeds `batches` to both faces, one micro-batch each, then two
    * far-future samples of trip 99 so the event-time timeout closes every
    * dangling run. */
  def run(batches: Seq[Seq[Sample]], falseFirst: Boolean = false)(
      implicit spark: SparkSession): Emitted = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val id = queries.incrementAndGet()
    val inSess = MemoryStream[FlagSample]
    val inStats = MemoryStream[Telemetry]
    val qs = Seq(
      Streaming.sessionize(inSess.toDS()).toDF() -> s"faces${id}_sess",
      Streaming.sessionStatsStream(inStats.toDS(), Flag).toDF() -> s"faces${id}_stats")
      .map { case (df, name) =>
        df.writeStream.outputMode("append").format("memory").queryName(name).start()
      }
    try {
      val pushers = Seq(Seq((99L, 7200, false)), Seq((99L, 7201, false)))
      (batches.filter(_.nonEmpty) ++ pushers).foreach { b =>
        inSess.addData(b.map(s => FlagSample(s._1, at(s._2), s._3)))
        inStats.addData(b.map(telemetry(_, falseFirst)))
        qs.foreach(_.processAllAvailable())
      }
      val sess = spark.table(s"faces${id}_sess").as[SessionOut].collect()
        .map(r => (r.trip_id, r.time_from, r.time_to, r.n_samples)).toSet
      val speed = spark.table(s"faces${id}_stats")
        .where(col("column") === "odometry_vehicle_speed" &&
          col("stat").isin("mean", "min", "max"))
        .select("trip_id", "time_from", "time_to", "n_samples", "stat", "value")
        .as[(Long, Timestamp, Timestamp, Long, String, Double)].collect()
        .groupBy(r => (r._1, r._2, r._3, r._4))
        .map { case (b, rs) =>
          val v = rs.map(r => r._5 -> r._6).toMap
          b -> ((v("mean"), v("min"), v("max")))
        }
      Emitted(sess, speed)
    } finally qs.foreach(_.stop())
  }

  /** Batch `brakeSessions` over the same samples. */
  def batch(samples: Seq[Sample], falseFirst: Boolean = false)(
      implicit spark: SparkSession): Set[Bounds] = {
    import spark.implicits._
    Algorithms.brakeSessions(samples.map(telemetry(_, falseFirst)).toDF(), Flag)
      .select("trip_id", "time_from", "time_to", "n_samples")
      .as[Bounds].collect().toSet
  }

  /** Each stats session is over exactly the flagged samples inside its
    * bounds: its count, and the mean, min and max of their speed. */
  def assertStatsOverFlagged(got: Emitted, samples: Seq[Sample]): Unit =
    got.speed.foreach { case (b @ (trip, from, to, n), (mean, mn, mx)) =>
      val in = samples.collect {
        case (`trip`, s, true) if !at(s).before(from) && !at(s).after(to) =>
          s.toDouble
      }
      assert(n == in.size, s"$b: n_samples vs flagged samples $in")
      assert(mn == in.min && mx == in.max, s"$b: speed min/max vs $in")
      assert(math.abs(mean - in.sum / in.size) < 1e-12, s"$b: speed mean vs $in")
    }
}
