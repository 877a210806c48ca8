package graft

import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps

/** Int8 scalar quantization (SQ8): encode correctness, the reconstruction
  * error bound, near-dup recall of the quantized path against the float
  * path, and the bucketed discovery's recall against the exact quantized
  * baseline. The cross-engine VALUES are pinned by the q92/q93 oracles;
  * these tests pin the operator's CONTRACT (bounds and recall) that no
  * row-hash can express. */
class SQ8Spec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sf)

  test("sq8 codes are bounded, dimension-complete, and 0 on constant dims") {
    val vecs = Seq(
      (0L, Array(1.0f, -2.0f, 7.0f, 0.5f)),
      (1L, Array(3.0f, -2.0f, -1.0f, 0.5f)),
      (2L, Array(-5.0f, -2.0f, 3.0f, 0.5f))).toDF("vec_id", "embedding")
    val rows = SimilarityOps.sq8Quantize(vecs,
      SimilarityOps.sq8Stats(vecs, col("embedding"), 4),
      col("vec_id"), col("embedding"))
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.values.forall(_.length == 4))
    assert(rows.values.flatten.forall(c => c >= 0 && c <= 255))
    // dim 2 (index 1) is constant -2.0 → scale 0 → code 0 everywhere
    assert(rows.values.forall(_(1) == 0))
    // dim 4 is constant 0.5 → code 0 everywhere
    assert(rows.values.forall(_(3) == 0))
    // min of dim 1 is -5 (vec 2) → code 0; max is 3 (vec 1) → code 255
    assert(rows(2L)(0) == 0 && rows(1L)(0) == 255)
  }

  test("sq8 reconstruction error is within scale/2 per dimension (q92 gate)") {
    val stats = SimilarityOps.sq8Stats(emb, col("embedding"), 64)
    val maxScale = stats.select(
      (1 to 64).map(i => element_at(col("scales"), i)) reduce ((a, b) =>
        greatest(a, b))).as[Double].head()
    val worst = SimilarityOps.sq8Digest(
      emb, col("vec_id"), col("embedding"), 64)
      .agg(max(col("max_err"))).as[Double].head()
    // round() in the encoder means each component lands within half a
    // quantization step of its source (plus the 1e-6 digest rounding)
    assert(worst <= maxScale / 2 + 1e-6,
      s"worst recon error $worst exceeds scale/2 bound ${maxScale / 2}")
    assert(worst > 0, "recon error should be nonzero on real floats")
  }

  test("codes pack to one byte each and round-trip losslessly (the sink form)") {
    import graft.functions.VectorExpressions
    val q = SimilarityOps.sq8Quantize(emb,
      SimilarityOps.sq8Stats(emb, col("embedding"), 64),
      col("vec_id"), col("embedding"))
    val rt = q.select(col("vec_id"), col("codes"),
      VectorExpressions.codesPack(col("codes")).as("bin"))
      .withColumn("codes_back",
        VectorExpressions.codesUnpack(col("bin")))
    val rows = rt.select(col("codes"), col("bin"), col("codes_back")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(r.getAs[Array[Byte]](1).length == codes.length,
        "packed form must be exactly one byte per dimension")
      assert(r.getSeq[Int](2) == codes, "pack→unpack must be lossless")
    }
  }

  test("sq8 near-dup pairs track the float path within quantization margin") {
    val t = 0.4
    val floatPairs = SimilarityOps.cosinePairs(
      emb, col("vec_id"), col("embedding"), t)
      .select(col("vec_a"), col("vec_b"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sq8Pairs = SimilarityOps.sq8NearDupPairs(
      emb, col("vec_id"), col("embedding"), t, 64)
      .select(col("vec_a"), col("vec_b"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(floatPairs.nonEmpty && sq8Pairs.nonEmpty)
    // quantized cosine stays close to float cosine on agreed pairs
    val shared = floatPairs.keySet intersect sq8Pairs.keySet
    assert(shared.nonEmpty)
    val maxDelta = shared.map(k => math.abs(floatPairs(k) - sq8Pairs(k))).max
    assert(maxDelta <= 0.02, s"quantized cosine drifted $maxDelta from float")
    // disagreements only happen at the threshold boundary: every strong
    // float pair (comfortably above t) survives quantization
    val margin = 0.02
    val strong = floatPairs.filter(_._2 >= t + margin).keySet
    val missed = strong -- sq8Pairs.keySet
    assert(missed.isEmpty,
      s"quantization lost ${missed.size} strong pairs: ${missed.take(5)}")
    // and every sq8-only pair is a boundary case, not an invention
    val invented = sq8Pairs.filter(_._2 >= t + margin).keySet -- floatPairs.keySet
    assert(invented.isEmpty,
      s"quantization invented ${invented.size} strong pairs")
  }

  test("bucketed sq8 discovery is a subset of exact with high recall (q93 shape)") {
    val t = 0.4
    val exact = SimilarityOps.sq8NearDupPairs(
      emb, col("vec_id"), col("embedding"), t, 64)
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = SimilarityOps.sq8NearDupPairsBucketed(
      emb, col("vec_id"), col("embedding"), t, 4, 4, 64)
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.subsetOf(exact),
      s"bucketed invented pairs: ${(bucketed -- exact).take(5)}")
    val recall = bucketed.size.toDouble / exact.size
    // multi-table sign-LSH recall on this corpus, measured and pinned:
    // a banding regression (lost table, wrong offset) craters this
    assert(recall >= 0.5, s"bucketed recall $recall collapsed")
  }
}
