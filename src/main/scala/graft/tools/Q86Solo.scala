package graft.tools

import graft.GraftSession

/** Isolation probe for the q86_image_neardup rep-climb seen in the r11
  * bench (walls 1.7 → 3.8 s across 5 reps, GC 0, cached MB flat, media
  * code untouched since r10): replicates the bench's media-block
  * procedure exactly — persist the synthetic corpus untimed, one warmup,
  * then timed reps of decode→hash→band→verify — in a FRESH JVM with no
  * preceding registry pass. Flat reps here attribute the climb to
  * post-registry JVM state (the z-drift class); climbing reps indict the
  * operator. */
object Q86Solo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def loadavg: String =
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").take(3).mkString(",")
    // face name as optional arg (default: the original q86 probe) —
    // same persisted-fixture protocol for any media face
    val want = args.headOption.getOrElse("q86_image_neardup")
    val (name, corpus, op) = graft.queries.MediaNearDup.faces
      .find(_._1 == want).get
    val fixture = corpus(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fixture.count()
    op(fixture)(spark).write.format("noop").mode("overwrite").save() // warmup
    (1 to 6).foreach { i =>
      System.gc()
      val t0 = System.nanoTime()
      op(fixture)(spark).write.format("noop").mode("overwrite").save()
      println(f"[q86solo] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        s"  (loadavg $loadavg)")
    }
    spark.stop()
  }
}
