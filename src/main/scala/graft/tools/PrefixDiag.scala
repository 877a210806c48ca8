package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.GraftSession
import graft.operators.DedupOps
import graft.functions.HashExpressions

/** Stage-volume + variant diagnostic for q70 (containmentPrefixPairs):
  * counts shingle rows, probes, candidates pre/post distinct, and times
  * (a) the registered operator, (b) a verify-without-pre-distinct variant
  * (post-verify distinct on survivors only), so the 3.6M-row candidate
  * distinct's cost is attributable in isolation. Dev tool only. */
object PrefixDiag {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCores
    implicit val spark: org.apache.spark.sql.SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = 2; val t = 0.9
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).persist()
    println(s"docs: ${docs.count()}")

    def timed[A](name: String, reps: Int = 3)(body: => A): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
      println(f"$name%-28s ${times.map(x => f"$x%.2f").mkString(" ")} s")
    }

    // stage volumes
    val sh = DedupOps.shingleHashes(docs, col("doc_id"), col("text"), w)
      .persist()
    println(s"shingle rows: ${sh.count()}")
    val docFreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    println(s"distinct shingles: ${docFreq.count()}")
    val wDoc = Window.partitionBy(col("doc_id"))
    val probes = sh.join(docFreq, "h")
      .withColumn("rk", row_number().over(wDoc.orderBy(col("df"), col("h"))))
      .withColumn("n", count(lit(1)).over(wDoc))
      .where(col("rk") <=
        floor(lit(1.0 - t) * col("n") + lit(1e-9)).cast("int") + 1)
      .select(col("doc_id").as("probe_doc"), col("h"))
    println(s"probe rows: ${probes.count()}")
    val candsRaw = probes
      .join(sh.withColumnRenamed("doc_id", "other_doc"), "h")
      .where(col("probe_doc") =!= col("other_doc"))
      .select(least(col("probe_doc"), col("other_doc")).as("doc_a"),
        greatest(col("probe_doc"), col("other_doc")).as("doc_b"))
    println(s"candidates raw: ${candsRaw.count()}")
    println(s"candidates distinct: ${candsRaw.distinct().count()}")

    // sub-stage timings: candidate generation to distinct, then verify
    timed("cands-to-distinct only") {
      candsRaw.distinct().write.format("noop").mode("overwrite").save()
    }
    val candsP = candsRaw.distinct().persist()
    candsP.count()
    val arrsP = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n")).persist()
    arrsP.count()
    timed("verify only (from persisted)") {
      candsP
        .join(arrsP.select(col("doc_id").as("doc_a"), col("hs").as("_ha"),
          col("n").as("na")), "doc_a")
        .join(arrsP.select(col("doc_id").as("doc_b"), col("hs").as("_hb"),
          col("n").as("nb")), "doc_b")
        .withColumn("n_common",
          HashExpressions.sortedIntersectCount(col("_ha"), col("_hb")))
        .where(greatest(col("n_common") / col("na"),
          col("n_common") / col("nb")) >= t)
        .write.format("noop").mode("overwrite").save()
    }

    // (a) registered operator, end-to-end
    timed("operator (current)") {
      DedupOps.containmentPrefixPairs(docs, col("doc_id"), col("text"), w, t)
        .write.format("noop").mode("overwrite").save()
    }

    // (b) no pre-distinct: verify every raw candidate, distinct survivors
    timed("no-pre-distinct variant") {
      val arrs = sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("h"))).as("hs"),
          count(lit(1)).as("n"))
      candsRaw
        .join(arrs.select(col("doc_id").as("doc_a"), col("hs").as("_ha"),
          col("n").as("na")), "doc_a")
        .join(arrs.select(col("doc_id").as("doc_b"), col("hs").as("_hb"),
          col("n").as("nb")), "doc_b")
        .withColumn("n_common",
          HashExpressions.sortedIntersectCount(col("_ha"), col("_hb")))
        .withColumn("containment_a",
          col("n_common").cast("double") / col("na").cast("double"))
        .withColumn("containment_b",
          col("n_common").cast("double") / col("nb").cast("double"))
        .where(greatest(col("containment_a"), col("containment_b")) >= t)
        .select("doc_a", "doc_b", "n_common", "containment_a",
          "containment_b")
        .distinct()
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
