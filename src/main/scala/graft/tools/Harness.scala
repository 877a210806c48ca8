package graft.tools

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.{QueryDef, SparkEntry}
import graft.operators.MultimodalOps.MediaRow
import graft.queries.MediaNearDup
import graft.ztbus.{Algorithms, Fixtures}

/** The run harness behind [[graft.Bench]] and [[Probe]]: one table of
  * every timed or planned unit, the persisted fixtures some of them read,
  * and the one function that measures a rep.
  *
  * Table order is the bench's order: the registry minus the media faces,
  * then the three media near-dup faces, then the three `z_ztbus_*`
  * scenarios. The media faces and the z-block run after the registry
  * pass on purpose (DECISIONS.md round 9: early-JVM, the shared JDK
  * decimal paths deopt mid-sequence and the z-block's 3-task tail
  * magnifies every stall), and over PERSISTED inputs: timed reps read the
  * operator's actual input from cache instead of re-running the codec
  * encode that manufactures the media corpus or the 1.5 M-row telemetry
  * generator (rounds 5-9: that recompute, not the operators, was the
  * measured drift). A real lake stores its inputs once; discovery and
  * the ZTBus algorithms re-read them. */
object Harness {

  /** An input built and persisted once, outside every timed rep, and
    * shared by consecutive scenarios that read it. */
  final case class Fixture(name: String,
      build: (SparkSession, String) => DataFrame)

  /** One timed or planned unit. */
  sealed trait Scenario { def name: String }
  /** A registry query, built from the sf directory inside each rep. */
  final case class Registered(q: QueryDef) extends Scenario {
    def name: String = q.name
  }
  /** An operator over a persisted [[Fixture]]. */
  final case class OverFixture(name: String, fixture: Fixture,
      op: (DataFrame, SparkSession) => DataFrame) extends Scenario

  /** The paper's ZTBus-dataset scale: the reference's full dataset is
    * ~1.5 M telemetry points (3 trips × 500 k), which its 60x replay
    * processes in ~4.9 real hours. */
  private val telemetry = Fixture("ztbus_telemetry",
    (spark, _) => Fixtures.telemetryDF(spark, 500000L))
  private val Halt = "status_halt_brake_is_active"
  private def trips(s: SparkSession): DataFrame = {
    import s.implicits._
    Fixtures.trips.toDF()
  }

  /** Three separately keyed passes over the same 1.5 M rows, so rounds
    * compare like for like: the five per-minute algorithms, the
    * brake-session windows, and the 112-aggregate session describe. */
  private val ztbus: Seq[Scenario] = Seq(
    OverFixture("z_ztbus_metrics", telemetry,
      (t, s) => Algorithms.perMinuteMetrics(t, trips(s))),
    OverFixture("z_ztbus_sessions", telemetry,
      (t, _) => Algorithms.brakeSessions(t, Halt)),
    OverFixture("z_ztbus_session_stats", telemetry,
      (t, _) => Algorithms.brakeSessionStats(t, Halt)))

  /** Every scenario, in bench order. */
  lazy val scenarios: Seq[Scenario] = {
    val media = MediaNearDup.faces.map { case (name, corpus, op) =>
      OverFixture(name, Fixture(name, (s, d) => corpus(s, d).toDF()),
        (m, s) => op(m.as(Encoders.product[MediaRow]))(s))
    }
    val mediaNames = media.map(_.name).toSet
    SparkEntry.registry.filterNot(q => mediaNames(q.name))
      .map(Registered(_)) ++ media ++ ztbus
  }

  lazy val byName: Map[String, Scenario] =
    scenarios.map(s => s.name -> s).toMap

  def scenario(name: String): Scenario = byName.getOrElse(name,
    throw new NoSuchElementException(s"no scenario named $name"))

  /** Builds and runs scenarios in one session, holding at most one
    * persisted fixture: the one the current scenario reads. */
  final class Runner(val spark: SparkSession, val sfDir: String) {
    private var held: Option[(String, DataFrame)] = None

    private def fixture(f: Fixture): DataFrame = held match {
      case Some((n, df)) if n == f.name => df
      case _ =>
        release()
        val t0 = System.nanoTime()
        val df = f.build(spark, sfDir).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        System.err.println(f"[harness] fixture ${f.name} persisted in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s (untimed)")
        held = Some(f.name -> df)
        df
    }

    /** Readies `s`'s input outside any timed window: persists its
      * fixture unless held, and releases a fixture `s` does not read. */
    def prepare(s: Scenario): Unit = s match {
      case OverFixture(_, f, _) => fixture(f)
      case _                    => release()
    }

    /** The DataFrame one rep of `s` materializes. */
    def plan(s: Scenario): DataFrame = s match {
      case Registered(q)         => q.spark(spark, sfDir)
      case OverFixture(_, f, op) => op(fixture(f), spark)
    }

    /** One full materialization through the `noop` sink, so the whole
      * plan runs (a bare `.count()` would let Catalyst prune columns). */
    def run(s: Scenario): Unit =
      plan(s).write.format("noop").mode("overwrite").save()

    def release(): Unit = {
      held.foreach(_._2.unpersist(blocking = true))
      held = None
    }
  }

  /** What one rep records: wall seconds, JVM GC seconds inside the rep,
    * block-manager MB at its end, and the 1-min loadavg at its start. */
  final case class Rep(wall: Double, gc: Double, cachedMb: Double,
      load1: Double)

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** The first three /proc/loadavg fields, comma-joined ("" off Linux). */
  def loadAvg: String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")).getOrElse("")

  /** Block-manager footprint (MB): RDD blocks (cached or checkpointed,
    * memory plus disk) PLUS broadcast blocks via executor storage memory
    * used; `getRDDStorageInfo` alone misses broadcasts, which are exactly
    * what iterative fits accumulate. Climbing MB with climbing wall and
    * flat GC is the leaked-blocks shape (the r9 q51/q48 finding). */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6 +
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => (max - rem) / 1e6 }.sum

  /** Runs `body` once and measures it. The loadavg is read at the rep's
    * start: the bench IS the load, so each rep carries the load it ran
    * under. Exceptions from `body` propagate. */
  def rep(spark: SparkSession)(body: => Unit): Rep = {
    val l0 = scala.util.Try(loadAvg.split(",").head.toDouble).getOrElse(-1.0)
    val g0 = gcMillis
    val t0 = System.nanoTime()
    body
    Rep((System.nanoTime() - t0) / 1e9, (gcMillis - g0) / 1e3,
      cachedMb(spark), l0)
  }
}
