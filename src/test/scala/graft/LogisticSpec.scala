package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{ClassifyOps, TextOps}

/** IRLS logistic regression (q186/q187): fit correctness on hand-checkable
  * data, the decimal-sum determinism law, degenerate-input safety, the
  * calibration-table arithmetic, and the sf0.001 distillation gates
  * (accuracy over the majority baseline; calibration buckets populated). */
class LogisticSpec extends SparkSpec {
  import spark.implicits._

  private val F = Seq("x1")

  /** Penalized Bernoulli log-likelihood of weights over (x, y) pairs —
    * an independent driver-side replay used to pin IRLS ascent. */
  private def pll(beta: Seq[Double], rows: Seq[(Double, Double)],
      lambda: Double = 0.01): Double =
    rows.map { case (x, y) =>
      val z = beta.head + beta(1) * x
      y * z - math.log1p(math.exp(z))
    }.sum - lambda / 2 * beta(1) * beta(1)

  private def toy(n: Int): DataFrame =
    (0 until n).map { i =>
      val x = (i % 21).toDouble / 10.0 - 1.0 // -1.0 .. 1.0
      (x, x > 0.15)
    }.toDF("x1", "y")

  test("separable-ish toy: boundary recovered, weights finite under ridge") {
    val w = ClassifyOps.logisticFit(toy(210), F, col("y"))
    assert(w.forall(v => !v.isNaN && !v.isInfinite))
    val scored = ClassifyOps.logisticScore(toy(210), F, w)
      .select(col("x1"), col("pred_keep")).collect()
    // every point at least 0.2 from the 0.15 boundary classifies correctly
    scored.filter(r => math.abs(r.getDouble(0) - 0.15) > 0.2).foreach { r =>
      assert(r.getBoolean(1) == (r.getDouble(0) > 0.15),
        s"x=${r.getDouble(0)}")
    }
  }

  test("IRLS ascends the penalized log-likelihood, iteration over iteration") {
    val rows = (0 until 210).map { i =>
      val x = (i % 21).toDouble / 10.0 - 1.0
      (x, if (x > 0.15) 1.0 else 0.0)
    }
    val df = toy(210)
    val lls = (1 to 5).map { it =>
      pll(ClassifyOps.logisticFit(df, F, col("y"), iters = it), rows)
    }
    lls.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"LL fell: $lls")
    }
    // and strictly improves on the zero-weight start
    assert(lls.head > pll(Seq(0.0, 0.0), rows) + 1e-6)
  }

  test("fit is partitioning-independent (exact decimal sums)") {
    val d1 = toy(210).repartition(1)
    val d7 = toy(210).repartition(7)
    assert(ClassifyOps.logisticFit(d1, F, col("y")) ==
      ClassifyOps.logisticFit(d7, F, col("y")))
  }

  test("one-class degenerate input: finite weights, confident probabilities") {
    val df = (0 until 50).map(i => (i.toDouble / 50, false)).toDF("x1", "y")
    val w = ClassifyOps.logisticFit(df, F, col("y"))
    assert(w.forall(v => !v.isNaN && !v.isInfinite))
    val ps = ClassifyOps.logisticScore(df, F, w)
      .select(col("p_keep")).as[Double].collect()
    assert(ps.forall(p => p < 0.5 && p >= 0.0))
  }

  test("empty input: solve guard returns zero weights, not NaN") {
    val df = Seq.empty[(Double, Boolean)].toDF("x1", "y")
    assert(ClassifyOps.logisticFit(df, F, col("y")) == Seq(0.0, 0.0))
  }

  test("calibrationTable: exact bucket arithmetic, closed top bucket") {
    val scored = Seq(
      (0.05, false), (0.05, true), // bucket 0
      (0.34, false),               // bucket 3
      (1.0, true), (0.95, true)    // p=1.0 folds into bucket 9
    ).toDF("p", "y")
    val out = ClassifyOps.calibrationTable(scored, col("p"), col("y"))
      .orderBy("bucket").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 3L, 9L))
    val b0 = out(0)
    assert(b0.getLong(1) == 2 && b0.getLong(2) == 1 &&
      b0.getDouble(3) == 0.5 && b0.getDouble(4) == 0.05)
    val b9 = out(2)
    assert(b9.getLong(1) == 2 && b9.getLong(2) == 2 &&
      b9.getDouble(3) == 1.0 && b9.getDouble(4) == 0.975)
  }

  // ------------------------------------------------------------ sf0.001
  // the q186/q187 registry path: distill the q60 funnel verdict from the
  // 12 cheap row-local features (polynomial-expanded — the keep region is
  // a band in the length×dup direction, LogisticSpec's reason-to-exist
  // comment in ClassifyOps.logisticQualityFeatures)

  private lazy val sfFeats: DataFrame =
    ClassifyOps.logisticQualityFeatures(TextOps.gopherQuality(
      spark.read.parquet(s"$sf/documents.parquet"),
      col("doc_id"), col("text"),
      ClassifyOps.distillFeatures(col("text")) :+
        TextOps.funnelPredicates(col("text")).last._2.as("label")))

  test("sf0.001 distillation beats the majority baseline by a wide margin") {
    val w = ClassifyOps.logisticFit(
      sfFeats, ClassifyOps.QualityFeatCols, col("label"))
    val scored = ClassifyOps.logisticScore(
      sfFeats, ClassifyOps.QualityFeatCols, w)
    val Row(n: Long, nPos: Long, nAgree: Long) = scored.agg(
      count(lit(1)), graft.functions.Exact.countIf(col("label")),
      graft.functions.Exact.countIf(col("label") === col("pred_keep")))
      .collect()(0)
    val majority = math.max(nPos, n - nPos).toDouble / n
    val acc = nAgree.toDouble / n
    assert(acc >= 0.90, s"accuracy $acc")
    assert(acc >= majority + 0.25, s"acc $acc vs majority $majority")
  }

  test("sf0.001 ranking: the scorer's ROC-AUC vs the funnel verdict") {
    val w = ClassifyOps.logisticFit(
      sfFeats, ClassifyOps.QualityFeatCols, col("label"))
    val auc = ClassifyOps.scoreAuc(
        ClassifyOps.logisticScore(sfFeats, ClassifyOps.QualityFeatCols, w),
        col("p_keep"), col("label"))
      .select(col("auc")).collect()(0).getDouble(0)
    // the q173 audit op composed over the q186 scorer: a filter this
    // accurate must also RANK keeps above drops near-perfectly
    assert(auc >= 0.97, s"AUC $auc")
  }

  test("sf0.001 holdout: a train-split fit generalizes to unseen docs") {
    import graft.functions.HashExpressions
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def feats(df: DataFrame) =
      ClassifyOps.logisticQualityFeatures(TextOps.gopherQuality(
        df, col("doc_id"), col("text"),
        ClassifyOps.distillFeatures(col("text")) :+
          TextOps.funnelPredicates(col("text")).last._2.as("label")))
    val bucket = pmod(HashExpressions.polyHash(col("text")), lit(100))
    val w = ClassifyOps.logisticFit(feats(docs.where(bucket < 80)),
      ClassifyOps.QualityFeatCols, col("label"))
    val held = ClassifyOps.logisticScore(feats(docs.where(bucket >= 80)),
      ClassifyOps.QualityFeatCols, w)
    val Row(n: Long, nPos: Long, nAgree: Long) = held.agg(
      count(lit(1)), graft.functions.Exact.countIf(col("label")),
      graft.functions.Exact.countIf(col("label") === col("pred_keep")))
      .collect()(0)
    val acc = nAgree.toDouble / n
    val modal = math.max(nPos, n - nPos).toDouble / n
    assert(acc >= 0.85, s"held-out accuracy $acc over $n docs")
    assert(acc > modal, s"must beat the modal baseline: $acc vs $modal")
  }

  test("sf0.001 calibration: every decile populated, frac tracks mean_p") {
    val w = ClassifyOps.logisticFit(
      sfFeats, ClassifyOps.QualityFeatCols, col("label"))
    val cal = ClassifyOps.calibrationTable(
      ClassifyOps.logisticScore(sfFeats, ClassifyOps.QualityFeatCols, w),
      col("p_keep"), col("label")).collect()
    assert(cal.length == 10, s"buckets ${cal.length}")
    // reliability: |pos_frac − mean_p| small where the bucket has support
    cal.filter(_.getLong(1) >= 20).foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) <= 0.20,
        s"bucket ${r.getLong(0)}: ${r.getDouble(3)} vs ${r.getDouble(4)}")
    }
  }
}
