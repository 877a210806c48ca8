package graft.tools

import graft.{GraftSession, SparkEntry}

/** Standalone repro for the r9 climbing-reps finding (q51/q48): runs one
  * registered query N times in a single JVM and prints, per rep, wall
  * seconds, in-rep GC seconds, and the block-manager footprint (cached +
  * checkpointed blocks, MB) at rep end. The r9 hypothesis: superseded
  * per-round `localCheckpoint` frames in the iterative operators are only
  * freed on driver GC (ContextCleaner), which a large pinned heap never
  * runs — so blocks pile up across reps and later reps slow under storage
  * pressure. Climbing cached-MB with climbing wall and flat GC confirms;
  * flat cached-MB after the explicit-unpersist fix is the after-evidence.
  *
  * Usage: `sbt "runMain graft.tools.ReproIterLeak q51_dedup_clusters 6"`
  * (sf dir from SPARK_GRAFT_SF_DIR, defaults to sf0.01). */
object ReproIterLeak {
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q51_dedup_clusters"
    val n = if (args.length > 1) args(1).toInt else 6
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def cachedMb: Double = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    def blocks: Int = spark.sparkContext.getRDDStorageInfo.length
    // All block-manager storage (broadcasts included — getRDDStorageInfo
    // misses them): max - remaining over every block manager.
    def storeMb: Double = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => (max - rem) / 1e6 }.sum
    val gcPerRep = sys.env.contains("REPRO_GC_PER_REP")
    for (i <- 1 to n) {
      val p0 = System.nanoTime()
      if (gcPerRep) System.gc()
      val pause = (System.nanoTime() - p0) / 1e9
      val g0 = gcMillis; val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"rep $i%2d  wall=$wall%6.2f s  gc=${(gcMillis - g0) / 1e3}%5.2f s" +
        f"  cached=$cachedMb%8.1f MB  rdds=$blocks%3d" +
        f"  store=$storeMb%8.1f MB  syncgc=$pause%5.2f s")
    }
    spark.stop()
  }
}
