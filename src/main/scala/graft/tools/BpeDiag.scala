package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.BpeOps

/** One-off timing probe for the BPE fit loop (the q107 bench cost):
  * produced the round-11 attribution that a persist() chain makes the
  * fit quadratic in merges (plan re-analysis over k nested rewrites)
  * while per-iteration localCheckpoint keeps it flat.
  * `sbt "runMain graft.tools.BpeDiag [sfDir]"`. */
object BpeDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.GraftSession.localCores
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, sfDir)
    var t0 = System.nanoTime()
    val freqs = BpeOps.wordFreqs(docs, col("text"))
    val nv = freqs.count()
    println(f"[bpediag] vocab $nv%d words, freq pass ${(System.nanoTime() - t0) / 1e9}%.2f s")
    for (i <- 1 to 2) {
      t0 = System.nanoTime()
      val m = BpeOps.bpeLearn(freqs, 16)
      println(f"[bpediag] rep $i: 16 merges in ${(System.nanoTime() - t0) / 1e9}%.2f s (${m.count()} learned)")
    }
    spark.stop()
  }
}
