package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.{DedupOps, MultimodalOps}

/** Stage-volume diagnostic for q86/q87 (image/audio near-dup): hash
  * entropy, band-bucket occupancy, and candidate volumes — the q89
  * uniform-collision analysis applied to the 64-bit single-hash ops.
  * Dev tool only. */
object MediaDiag {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    implicit val spark: org.apache.spark.sql.SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def probe(name: String, hashes: org.apache.spark.sql.DataFrame,
        hashName: String): Unit = {
      val hs = hashes.where(col("ok")).select(col("media_id"), col(hashName))
        .persist()
      val nm = hs.count()
      val nh = hs.select(hashName).distinct().count()
      val rows = hs.select(col("media_id").as("doc_id"),
        explode(array((0 until 8).map(b => struct(lit(b).as("band"),
          shiftright(col(hashName), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
          .as("bv"))
        .select(col("doc_id"), col("bv.band").as("band"), col("bv.b").as("b"))
      val occ = rows.groupBy("band", "b").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("buckets"), max("n").as("hottest"),
          sum(col("n") * (col("n") - 1) / 2).as("pair_volume")).head()
      val cands = DedupOps.bucketedSelfJoinPairs(rows).count()
      println(s"[mediadiag] $name media=$nm distinct_hashes=$nh " +
        s"buckets=${occ.getLong(0)} hottest=${occ.getLong(1)} " +
        s"pair_volume=${occ.getAs[Any](2)} candidates=$cands")
      hs.unpersist()
    }

    def timed(name: String)(body: => Unit): Unit = {
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime(); body
        println(f"[mediadiag] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }

    val docs = graft.Tables.documents(spark, sfDir)
    val img = MultimodalOps.syntheticImageCorpus(
      docs, col("doc_id"), col("text")).persist()
    img.count()
    val aud = MultimodalOps.syntheticAudioCorpus(
      docs, col("doc_id"), col("text")).persist()
    aud.count()

    timed("imageDHash only") {
      MultimodalOps.imageDHash(img).write.format("noop").mode("overwrite").save()
    }
    timed("audioEnvHash only") {
      MultimodalOps.audioEnvHash(aud).write.format("noop").mode("overwrite").save()
    }
    probe("image", MultimodalOps.imageDHash(img).toDF(), "dhash")
    probe("audio", MultimodalOps.audioEnvHash(aud).toDF(), "ehash")
    timed("image pairs e2e (in-join)") {
      MultimodalOps.imageNearDupPairs(MultimodalOps.imageDHash(img).toDF())
        .write.format("noop").mode("overwrite").save()
    }
    timed("audio pairs e2e (in-join)") {
      MultimodalOps.audioNearDupPairs(MultimodalOps.audioEnvHash(aud).toDF())
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
