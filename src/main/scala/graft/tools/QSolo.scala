package graft.tools

import graft.GraftSession

/** Generic isolation microbench: runs the named registry queries for
  * REPS fresh reps each in one clean JVM, printing per-rep wall time and
  * /proc/loadavg — the evidence shape every bench-drift attribution this
  * project has made (q48 r8, q70/q71 r10, q107 r11) has needed. Usage:
  * `sbt "runMain graft.tools.QSolo q83_containment_coordinated q95_pq_topk_learned"`
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_REPS, SPARK_GRAFT_CPUS). */
object QSolo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QSolo <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def loadavg: String =
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").take(3).mkString(",")
    // z_ztbus_* bench scenarios (not registry queries): same persisted
    // fixture discipline as the Bench z-block, so the vectors compare
    // like-for-like with the driver artifact's entries.
    lazy val ztbusTel = {
      val t = graft.ztbus.Fixtures.telemetryDF(spark, 500000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count(); t
    }
    def zScenario(name: String): () => Unit = {
      import graft.ztbus.Algorithms
      import org.apache.spark.sql.functions.col
      val trips = { import spark.implicits._; graft.ztbus.Fixtures.trips.toDF() }
      name match {
        case "z_ztbus_metrics" => () =>
          Algorithms.perMinuteMetrics(ztbusTel, trips)
            .write.format("noop").mode("overwrite").save()
        case "z_ztbus_sessions" => () =>
          Algorithms.brakeSessions(ztbusTel, "status_halt_brake_is_active")
            .write.format("noop").mode("overwrite").save()
        case "z_ztbus_session_stats" => () =>
          Algorithms.brakeSessionStats(ztbusTel, "status_halt_brake_is_active")
            .write.format("noop").mode("overwrite").save()
      }
    }
    args.foreach { name =>
      val body: () => Unit =
        if (name.startsWith("z_ztbus_")) zScenario(name)
        else {
          val q = graft.SparkEntry.queries(name)
          () => q(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      (1 to reps).foreach { i =>
        System.gc()
        val t0 = System.nanoTime()
        body()
        println(f"[qsolo] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
          s"  (loadavg $loadavg)")
      }
    }
    spark.stop()
  }
}
