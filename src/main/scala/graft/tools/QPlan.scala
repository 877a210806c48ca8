package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.GraftSession

/** Per-query stage attribution: runs the named registry queries once
  * (noop sink) and prints, per stage, the task count, total/max task
  * wall, and GC — the evidence that tells a 1-task map stage (tiny-file
  * scan pinning per-row-heavy work to one core) apart from a genuinely
  * expensive distributed stage. Also dumps `.explain("formatted")` when
  * SPARK_GRAFT_PLAN=1. Usage:
  * `sbt "runMain graft.tools.QPlan q133_embedding_moments"`. */
object QPlan {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QPlan <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wantPlan = sys.env.get("SPARK_GRAFT_PLAN").contains("1")
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class St(var tasks: Int = 0, var runMs: Long = 0L,
        var maxMs: Long = 0L, var gcMs: Long = 0L, var rows: Long = 0L,
        var name: String = "")
    // r19 (advice): the listener-bus thread writes this map while the
    // main thread clears/reads it — all access synchronizes on the map
    // itself (sleeps alone could lose late-draining task-end events).
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(t.stageId, St())
          s.tasks += 1
          val m = t.taskMetrics
          if (m != null) {
            s.runMs += m.executorRunTime
            s.maxMs = math.max(s.maxMs, m.executorRunTime)
            s.gcMs += m.jvmGCTime
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val s = stages.getOrElseUpdate(e.stageInfo.stageId, St())
          s.name = e.stageInfo.name.takeWhile(_ != '\n')
          s.rows = e.stageInfo.taskMetrics.outputMetrics.recordsWritten
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // z_ztbus_* bench scenarios (not registry queries): same persisted
    // fixture discipline as the Bench z-block (QSolo convention), so the
    // stage tables attribute the same plan the bench times.
    lazy val ztbusTel = {
      val t = graft.ztbus.Fixtures.telemetryDF(spark, 500000L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count(); t
    }
    def zScenario(name: String): org.apache.spark.sql.DataFrame = {
      import graft.ztbus.Algorithms
      val trips = { import spark.implicits._; graft.ztbus.Fixtures.trips.toDF() }
      name match {
        case "z_ztbus_metrics" => Algorithms.perMinuteMetrics(ztbusTel, trips)
        case "z_ztbus_sessions" =>
          Algorithms.brakeSessions(ztbusTel, "status_halt_brake_is_active")
        case "z_ztbus_session_stats" =>
          Algorithms.brakeSessionStats(ztbusTel, "status_halt_brake_is_active")
      }
    }
    args.foreach { name =>
      if (name.startsWith("z_ztbus_")) { val _ = ztbusTel } // synth outside
      stages.synchronized { stages.clear() }
      val tc0 = System.nanoTime()
      val df =
        if (name.startsWith("z_ztbus_")) zScenario(name)
        else graft.SparkEntry.queries(name)(spark, sfDir)
      val constructS = (System.nanoTime() - tc0) / 1e9
      Thread.sleep(200)
      val constructStages = stages.synchronized { stages.size }
      if (wantPlan) {
        println(s"== $name plan ==")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      // plan-only mode (SPARK_GRAFT_PLAN=only): dump each query's
      // formatted plan to $SPARK_GRAFT_PLAN_DIR/<name><suffix>.txt and
      // skip execution — used to commit the r18 before/after plan
      // evidence (the before arm runs under the measurement
      // kill-switches, which reproduce the pre-optimization plans
      // exactly from one binary).
      if (sys.env.get("SPARK_GRAFT_PLAN").contains("only")) {
        val dir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/tmp/plans")
        val sfx = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"$name$sfx.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[qplan] wrote $dir/$name$sfx.txt")
      } else {
      System.gc()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener events before reading (listenerBus is private to
      // the spark package; a short sleep suffices for a diag tool)
      Thread.sleep(300)
      println(f"== $name construct ${constructS}%.2f s " +
        f"($constructStages eager stages) + exec ${wall}%.2f s ==")
      println(f"${"stage"}%7s ${"tasks"}%6s ${"sumRun_s"}%9s ${"maxTask_s"}%10s ${"gc_s"}%6s  name")
      stages.synchronized { stages.toSeq }.sortBy(_._1).foreach { case (id, s) =>
        println(f"$id%7d ${s.tasks}%6d ${s.runMs / 1e3}%9.2f " +
          f"${s.maxMs / 1e3}%10.2f ${s.gcMs / 1e3}%6.2f  ${s.name.take(60)}")
      }
      }
    }
    spark.stop()
  }
}
