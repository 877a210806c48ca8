package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.{DedupOps, MultimodalOps}

/** Stage-volume diagnostic for q89 (video near-dup): counts frame hashes,
  * band rows, candidate pairs, and verify-join rows so a slow rep is
  * attributable to a specific stage's fan-out. */
object VideoDiag {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    implicit val spark: org.apache.spark.sql.SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val media = graft.queries.MediaNearDup.videoCorpus(spark, sfDir)
      .persist()
    println(s"videos: ${media.count()}")
    val hs0 = MultimodalOps.videoFrameHashes(media).toDF().persist()
    val hs = hs0.where(col("ok"))
      .select(col("media_id"), col("frame_idx"), col("fhash"))
    println(s"frame hashes (ok): ${hs.count()}")
    println(s"distinct fhash: ${hs.select("fhash").distinct().count()}")
    val bandRows = hs.select(col("media_id").as("doc_id"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band"),
        shiftright(col("fhash"), b * 8).bitwiseAND(lit(0xffL)).as("b"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("bv.band").as("band"), col("bv.b").as("b"))
      .distinct().persist()
    println(s"band rows: ${bandRows.count()}")
    bandRows.groupBy("band", "b").agg(count(lit(1)).as("n"))
      .orderBy(desc("n")).show(10)
    val cands = DedupOps.bucketedSelfJoinPairs(bandRows).persist()
    println(s"candidate pairs: ${cands.count()}")
    val t0 = System.nanoTime()
    val verifyRows = cands
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"))
      .join(hs.select(col("media_id").as("media_a"),
        col("frame_idx").as("_fi_a"), col("fhash").as("_ha")), "media_a")
      .join(hs.select(col("media_id").as("media_b"),
        col("frame_idx").as("_fi_b"), col("fhash").as("_hb")), "media_b")
      .count()
    println(f"verify-join rows: $verifyRows (${(System.nanoTime()-t0)/1e9}%.1f s)")
    spark.stop()
  }
}
