package graft

import org.apache.spark.sql.functions._
import graft.operators.CorpusStatsOps

/** Corpus-health diagnostics ([[CorpusStatsOps]]): hand-computed Zipf and
  * MAD fixtures, a degenerate-fit guard, and Heaps-law invariants (exact
  * totals regardless of bucketing; β = 1 on an all-new-words corpus).
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Independent round-6 least-squares fit matching the operator's
    * convention (terms rounded before summation). */
  private def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.size.toDouble
    val xs = pts.map(p => round6(math.log(p._1)))
    val ys = pts.map(p => round6(math.log(p._2)))
    val sx = xs.sum; val sy = ys.sum
    val sxy = xs.zip(ys).map { case (a, b) => round6(a * b) }.sum
    val sxx = xs.map(a => round6(a * a)).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    (slope, (sy - slope * sx) / n)
  }

  test("zipfDiagnostics matches a hand-computed rank-frequency fixture") {
    val docs = Seq((1L, "g1", "a a a b b c")).toDF("doc_id", "lang", "text")
    val r = CorpusStatsOps.zipfDiagnostics(docs, col("lang"), col("text"))
      .collect().head
    assert(r.getAs[Long]("n_types") === 3L)
    assert(r.getAs[Long]("n_tokens") === 6L)
    assert(r.getAs[Long]("n_hapax") === 1L)
    assert(r.getAs[Double]("hapax_ratio") === round6(1.0 / 3))
    assert(r.getAs[Double]("ttr") === 0.5)
    // freq by rank: (1,3) (2,2) (3,1)
    val (slope, intercept) = fit(Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)))
    assert(r.getAs[Double]("zipf_slope") === round6(slope))
    assert(r.getAs[Double]("zipf_intercept") === round6(intercept))
  }

  test("zipfDiagnostics yields NULL fit on a single-type group") {
    val docs = Seq((1L, "g", "x x x")).toDF("doc_id", "lang", "text")
    val r = CorpusStatsOps.zipfDiagnostics(docs, col("lang"), col("text"))
      .collect().head
    assert(r.isNullAt(r.fieldIndex("zipf_slope")))
    assert(r.isNullAt(r.fieldIndex("zipf_intercept")))
    assert(r.getAs[Long]("n_hapax") === 0L)
  }

  test("heapsFit: β = 1, K = 1 when every token is a new type") {
    val docs = (1L to 8L).map(i => (i, s"w${i}a w${i}b"))
      .toDF("doc_id", "text")
    val r = CorpusStatsOps.heapsFit(docs, col("doc_id"), col("text"),
      buckets = 8).collect().head
    assert(r.getAs[Double]("heaps_beta") === 1.0)
    assert(r.getAs[Double]("heaps_k") === 1.0)
    assert(r.getAs[Long]("n_tokens") === 16L)
    assert(r.getAs[Long]("n_types") === 16L)
  }

  test("heapsFit totals are exact and bucket-invariant on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
    val expTokens = toks.count()
    val expTypes = toks.distinct().count()
    for (b <- Seq(4, 32)) {
      val r = CorpusStatsOps.heapsFit(docs, col("doc_id"), col("text"),
        buckets = b).collect().head
      assert(r.getAs[Long]("n_tokens") === expTokens)
      assert(r.getAs[Long]("n_types") === expTypes)
      assert(r.getAs[Long]("n_points") <= b)
      assert(r.getAs[Double]("heaps_k") > 0.0)
    }
  }

  test("heavyNgrams equals the direct exact top-k on the real corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = CorpusStatsOps.heavyNgrams(docs, col("doc_id"), col("text"),
      n = 2, rate = 4, minCount = 8L, k = 15)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // ground truth: full aggregate, no sampling
    val ws = split(col("text"), " ")
    val grams = docs.select(posexplode(
      when(size(ws) >= 2, transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", slice(ws, i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as(Seq("p", "gram")))
    val truth = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 8)
      .orderBy(col("cnt").desc, col("gram")).limit(15)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1L, r.getString(0), r.getLong(1)) }
    assert(got.toSeq === truth.toSeq,
      "the 1/4 occurrence sample must surface every >=8-count bigram " +
        "at this corpus (deterministic pin; retune rate if this drifts)")
  }

  test("heavyNgrams verify phase removes sampled-but-light candidates") {
    // 'x y' occurs 3 times and every occurrence hashes into the sample
    // at rate 1 — candidate for sure — but cnt < minCount drops it
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val out = CorpusStatsOps.heavyNgrams(docs, col("doc_id"), col("text"),
      n = 2, rate = 1, minCount = 4L, k = 10).collect()
    assert(out.isEmpty)
    val out2 = CorpusStatsOps.heavyNgrams(docs, col("doc_id"), col("text"),
      n = 2, rate = 1, minCount = 3L, k = 10)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(out2.toSet === Set(("x y", 3L)))
  }

  test("deflate_ratio expression: kernel parity, bands, empty -> NULL") {
    import graft.functions.{CompressExpressions, CompressKernel}
    val texts = Seq(
      "w w w w w w w w w w w w w w w w w w w w w w w w w w w w",  // repetitive
      "the quick brown fox jumps over the lazy dog while it rains",
      "q8Zk2LpT9xAv3mWc7RfJ1bYhN5dGsE0uKoQiXnB6tMzC4eHjPrS",      // entropic
      "héllo wörld ünïcode ©®",                                    // non-ASCII
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val got = df.select(col("id"),
      CompressExpressions.deflateRatio(col("t")).as("r"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[java.lang.Double]("r"))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val exp = CompressKernel.ratio(t.getBytes("UTF-8"))
      if (t.isEmpty) assert(got(i.toLong).isEmpty)
      else assert(got(i.toLong).get === exp, s"text $i")
    }
    // the Gopher ordering: repetitive < natural < high-entropy
    assert(got(0L).get < got(1L).get && got(1L).get < got(2L).get)
  }

  test("compressionScreen drops outside the natural band") {
    val docs = Seq(
      (1L, Seq.fill(60)("w").mkString(" ")),            // over-compresses
      (2L, "the quick brown fox jumps over the lazy dog and keeps going"))
      .toDF("doc_id", "text")
    val out = CorpusStatsOps.compressionScreen(
      docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(out === Map(1L -> false, 2L -> true))
  }

  test("encodingScan counts replacement and control characters") {
    val docs = Seq(
      (1L, "ok text here"),
      (2L, "bad � twice � here"),
      (3L, "bell  inside")).toDF("doc_id", "text")
    val out = CorpusStatsOps.encodingScan(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((0L, 0L, false)))
    assert(out(2L) === ((2L, 0L, true)))
    assert(out(3L) === ((0L, 1L, true)))
  }

  test("robustOutliers approx path agrees with exact at test scale") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run(exact: Boolean) = CorpusStatsOps.robustOutliers(
      docs, col("doc_id"), col("lang"), col("n_chars"), exact = exact)
      .collect().map(r => r.getAs[Long]("did") ->
        r.getAs[Boolean]("is_outlier")).toMap
    // percentile_approx at accuracy 10000 is exact for these group sizes,
    // so the 100 TB swap-in path must flag identically here
    assert(run(exact = false) === run(exact = true))
  }

  test("robustOutliers matches a hand-computed median/MAD fixture") {
    val docs = Seq(
      (1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0), (4L, "g", 4.0),
      (5L, "g", 100.0),
      (6L, "c", 7.0), (7L, "c", 7.0), (8L, "c", 7.0))
      .toDF("doc_id", "lang", "v")
    val out = CorpusStatsOps.robustOutliers(docs, col("doc_id"),
      col("lang"), col("v")).collect()
      .map(r => r.getAs[Long]("did") ->
        (Option(r.getAs[java.lang.Double]("robust_z")),
          r.getAs[Boolean]("is_outlier"))).toMap
    // group g: median 3, MAD = median(|v-3|) = median(2,1,0,1,97) = 1
    assert(out(5L)._1.get === round6(97.0 / 1.4826))
    assert(out(5L)._2 === true)
    assert(out(1L)._1.get === round6(-2.0 / 1.4826))
    assert(out(1L)._2 === false)
    // constant group: MAD 0 → NULL z, never an outlier
    assert(out(6L)._1.isEmpty && !out(6L)._2)
  }

  test("entropyScreen: hand-computed unigram/bigram entropies in nats") {
    val df = Seq(
      (1L, "a a a a"),          // one type: H = 0, norm NULL, bigram H = 0
      (2L, "a b a b"),          // uniform 2 types: H = ln 2
      (3L, "w"))                // single word: no bigram row
      .toDF("doc_id", "text")
    val out = CorpusStatsOps.entropyScreen(df, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("did") -> r).toMap
    assert(out(1L).getAs[Double]("word_entropy") === 0.0)
    assert(out(1L).isNullAt(out(1L).fieldIndex("norm_entropy")))
    assert(out(1L).getAs[Double]("bigram_entropy") === 0.0)
    // terms are rounded BEFORE summation (engine-parity convention):
    // H = 2 * round6(0.5 * ln 2) = 0.693148, one ulp-of-round6 above
    // round6(ln 2), and the normalized form divides the rounded sum
    val h2 = round6(2 * round6(0.5 * math.log(2)))
    assert(out(2L).getAs[Double]("word_entropy") === h2)
    assert(out(2L).getAs[Double]("norm_entropy") ===
      round6(2 * round6(0.5 * math.log(2)) / math.log(2)))
    // bigrams of "a b a b": "a b" x2, "b a" x1 -> H = ln3 - (2/3) ln2
    val h3 = {
      val t1 = round6(-(2.0 / 3.0) * math.log(2.0 / 3.0))
      val t2 = round6(-(1.0 / 3.0) * math.log(1.0 / 3.0))
      round6(t1 + t2)
    }
    assert(out(2L).getAs[Double]("bigram_entropy") === h3)
    assert(out(3L).getAs[Long]("n_tokens") === 1L)
    assert(out(3L).isNullAt(out(3L).fieldIndex("bigram_entropy")))
  }

  test("robustDrift/entropy inputs: repetitive text scores below diverse text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam ham"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val out = CorpusStatsOps.entropyScreen(df, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("did") ->
        r.getAs[Double]("word_entropy")).toMap
    assert(out(1L) < out(2L))
  }
}
