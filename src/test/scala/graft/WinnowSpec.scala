package graft

import org.apache.spark.sql.functions._
import graft.operators.WinnowOps

/** Winnowing fingerprints ([[WinnowOps]], Schleimer/Wilkerson/Aiken SIGMOD
  * 2003): parity against an independent plain-Scala reference (including
  * the rightmost-min tie rule), the paper's density and shared-substring
  * guarantees, and pair semantics on exact duplicates.
  */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3
  private val W = 4

  // ------------------------------------------------------ reference model
  private def polyHash(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)

  /** Plain-Scala winnow: sliding w-window over k-gram hashes, rightmost
    * minimum per window, distinct (pos, h); 1-based positions. */
  private def winnowRef(text: String): Set[(Int, Long)] = {
    val ws = text.split(" ")
    if (ws.length < K) return Set.empty
    val hs = (0 to ws.length - K)
      .map(i => polyHash(ws.slice(i, i + K).mkString(" ")))
    val m = hs.length
    (1 to math.max(m - W + 1, 1)).map { j =>
      val win = hs.slice(j - 1, math.min(j - 1 + W, m)).zipWithIndex
      val (h, idx) = win.minBy { case (h, i) => (h, -i) }
      (j + idx, h)
    }.toSet
  }

  private def run(texts: Seq[String]): Map[Long, Set[(Int, Long)]] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    WinnowOps.fingerprints(df, col("doc_id"), col("text"), K, W)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet
      }
  }

  test("matches the reference model, including ties and short docs") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "a b a b a b a b a b",              // all-tie hashes: rightmost rule
      "x y z",                            // exactly one gram
      "p q r s",                          // m=2 < w: single short window
      "one two three four five six seven eight nine ten eleven twelve")
    val got = run(texts)
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got.getOrElse(i.toLong, Set.empty) === winnowRef(t),
        s"doc $i: '$t'")
    }
  }

  test("density guarantee: every w-window contains a fingerprint") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fp = WinnowOps.fingerprints(docs, col("doc_id"), col("text"), K, W)
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getInt(1)).sorted }
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    fp.foreach { case (d, ps) =>
      val m = lens(d) - K + 1
      assert(ps.head <= math.max(m - W + 1, 1).min(W), s"doc $d head")
      assert(ps.last >= m - W + 1, s"doc $d tail")
      ps.sliding(2).foreach { pair =>
        if (pair.length == 2)
          assert(pair(1) - pair(0) <= W, s"doc $d gap ${pair.mkString("->")}")
      }
    }
  }

  test("shared substrings of >= w+k-1 words share a fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = W + K - 1
    val got = run(Seq(
      s"intro words here $shared trailing tail stuff",
      s"completely other prefix tokens $shared and more"))
    assert(got(0L).map(_._2).intersect(got(1L).map(_._2)).nonEmpty)
  }

  test("HOF fingerprintHashes equals the window form's hash set per doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hof = docs.select(col("doc_id"),
      explode(WinnowOps.fingerprintHashes(col("text"), K, W)).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val win = WinnowOps.fingerprints(docs, col("doc_id"), col("text"), K, W)
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(2)).toSet }
    assert(hof === win)
  }

  test("fingerprintPairs scores exact duplicates at jaccard 1.0") {
    val df = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "entirely different content goes right here now"))
      .toDF("doc_id", "text")
    val pairs = WinnowOps.fingerprintPairs(df, col("doc_id"), col("text"),
      K, W, maxDf = 64, minJaccard = 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
    assert(pairs.head.getAs[Double]("jaccard") === 1.0)
  }
}
