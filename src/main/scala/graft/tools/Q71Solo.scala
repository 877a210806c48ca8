package graft.tools

import graft.GraftSession
import graft.Tables
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions.col

/** Isolation microbench for the q71_semantic_dedup_learned regression
  * (round-10 verdict item 1): times the [[SimilarityOps.learnCentroids]]
  * k-means fit, the [[SimilarityOps.semanticDedup]] body against
  * pre-learned centroids, and the full q71 composition, each for 5 reps
  * in one fresh JVM, with loadavg printed per rep so co-tenant noise is
  * distinguishable from structural cost (the r8 q48 / r10 q70 evidence
  * pattern). */
object Q71Solo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def loadavg: String =
      scala.io.Source.fromFile("/proc/loadavg").getLines().next()
        .split(" ").take(3).mkString(",")
    def time[A](tag: String, i: Int)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q71solo] $tag rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        s"  (loadavg $loadavg)")
      r
    }
    val emb = Tables.embeddings(spark, sfDir)
    // Stage A: the k-means fit alone (result is a tiny driver-side table).
    var cents: org.apache.spark.sql.DataFrame = null
    (1 to 5).foreach { i =>
      cents = time("fit ", i) {
        val c = SimilarityOps.learnCentroids(
          emb, col("embedding"), 8, "vec_id", "embedding")
        c.count() // materialize (it is driver-local already, but be explicit)
        c
      }
    }
    // Stage B: the dedup body against the pre-learned centroids.
    (1 to 5).foreach { i =>
      time("body", i) {
        SimilarityOps.semanticDedup(
          emb, cents, col("vec_id"), col("embedding"), 0.4)
          .write.format("noop").mode("overwrite").save()
      }
    }
    // Stage C: the full q71 composition as the bench runs it.
    (1 to 5).foreach { i =>
      time("full", i) {
        graft.SparkEntry.queries("q71_semantic_dedup_learned")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
