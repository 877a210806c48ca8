package graft

import org.apache.spark.sql.functions._
import graft.functions.{UnigramEncode, UnigramExpressions}
import graft.operators.UnigramOps

/** Unigram-LM tokenizer (Kudo 2018): Viterbi decode determinism, the
  * unk floor, brute-force optimality, the hand-replayed EM fit, and
  * corpus-level coverage + determinism of the full fit∘apply chain. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def enc(word: String, pieces: Seq[(String, Double)]): Seq[String] =
    UnigramEncode(org.apache.spark.sql.catalyst.expressions.Literal(word),
      pieces).encodeWord(word).toSeq

  test("viterbi picks the max-probability segmentation; ties take the longer piece") {
    val base = Seq("a" -> -1.0, "b" -> -1.0)
    assert(enc("ab", base :+ ("ab" -> -1.5)) == Seq("ab"),
      "-1.5 beats a+b = -2.0")
    assert(enc("ab", base :+ ("ab" -> -2.5)) == Seq("a", "b"),
      "a+b = -2.0 beats -2.5")
    assert(enc("ab", base :+ ("ab" -> -2.0)) == Seq("ab"),
      "exact tie resolves to the longer piece")
  }

  test("characters without a covering piece price at the unk floor, never fail") {
    val t = Seq("a" -> -1.0)
    assert(enc("axa", t) == Seq("a", "x", "a"))
    assert(enc("xyz", t) == Seq("x", "y", "z"), "all-unk word still segments")
    // the floor is low enough that even a badly-priced fitted piece
    // beats the all-unk character route (2 x UnkLogp < -20)
    assert(enc("qq", t :+ ("qq" -> -20.0)) == Seq("qq"))
  }

  test("viterbi equals brute-force enumeration on adversarial piece tables") {
    val pieces = Seq("a" -> -2.0, "b" -> -1.5, "ab" -> -2.2, "ba" -> -1.9,
      "aba" -> -4.0, "bab" -> -3.1, "abab" -> -5.9, "aa" -> -3.3)
    val lp = pieces.toMap
    def price(p: String): Double =
      lp.getOrElse(p,
        if (p.length == 1) UnigramExpressions.UnkLogp
        else Double.NegativeInfinity)
    def bruteBest(w: String): Double =
      if (w.isEmpty) 0.0
      else (1 to math.min(w.length, 6)).map { k =>
        price(w.take(k)) + bruteBest(w.drop(k))
      }.max
    val words = Seq("abab", "aabb", "babab", "abba", "aaabbb", "abcab",
      "bbbbbb", "ababababa")
    words.foreach { w =>
      val got = enc(w, pieces)
      assert(got.mkString("") == w, s"coverage broken for $w: $got")
      val score = got.map(price).sum
      assert(math.abs(score - bruteBest(w)) < 1e-9,
        s"$w: viterbi $got scores $score, brute best ${bruteBest(w)}")
    }
  }

  test("unigramFit: hand-replayed hard-EM on a four-word corpus") {
    // words ab x3, ac x1. seed: chars a(4) b(3) c(1) + multi ab(3) ac(1),
    // total 12. Viterbi under the seed: P(ab)=3/12 beats P(a)P(b);
    // P(ac)=1/12 beats P(a)P(c). One EM round concentrates all mass on
    // the two whole-word pieces; size 5 = vocabSize so nothing prunes.
    val docs = Seq((1L, "ab ab ab ac")).toDF("doc_id", "text")
    val fit = UnigramOps.unigramFit(docs, col("text"),
      vocabSize = 5, seedSize = 10, emIters = 1)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fit.keySet == Set("a", "b", "c", "ab", "ac"))
    assert(fit("ab")._1 == 3L && fit("ac")._1 == 1L)
    assert(math.abs(fit("ab")._2 - math.log(3.0 / 4)) < 2e-6)
    assert(math.abs(fit("ac")._2 - math.log(1.0 / 4)) < 2e-6)
    Seq("a", "b", "c").foreach { ch =>
      assert(fit(ch)._1 == 0L &&
        fit(ch)._2 == UnigramExpressions.UnkLogp,
        s"starved char $ch keeps the unk floor: ${fit(ch)}")
    }
  }

  test("unigramFit on the corpus: prunes to target, keeps charset, deterministic") {
    val docs = Tables.documents(spark, sf).limit(100)
    def fit() = UnigramOps.unigramFit(docs, col("text"),
      vocabSize = 150, seedSize = 300, emIters = 1)
      .as[(String, Long, Double)].collect().sortBy(_._1)
    val a = fit()
    val chars = a.filter(_._1.length == 1).map(_._1).toSet
    val corpusChars = docs.select(explode(split(col("text"), ""))
      .as("c")).where(col("c") =!= "").distinct()
      .as[String].collect().toSet - " "
    assert(corpusChars.subsetOf(chars), "every corpus char must survive")
    val nMulti = a.count(_._1.length > 1)
    assert(a.length <= math.max(150, chars.size + nMulti) &&
      a.length >= chars.size, s"table size ${a.length}")
    assert(a.length <= 150 || nMulti == 0,
      "above-target size is only legal at the charset floor")
    assert(fit().toSeq == a.toSeq, "fit must be bit-deterministic")
  }

  test("unigramFitSampled ≡ unigramFit when the cap covers the " +
      "histogram, and respects the cap") {
    // the BpeSpec:53 parity discipline for the fourth family (r17
    // verdict item 3): with maxWords ≥ |hist| the sampled fit's local
    // seed explode, local Viterbi E-steps, and shared prune loop must
    // reproduce the distributed fit BIT-exactly — over the real corpus
    // (multi-byte text included) and the hand-replay fixture alike
    val fixtures = Seq(
      Seq((1L, "ab ab ab ac")).toDF("doc_id", "text"),
      Tables.documents(spark, sf).limit(100).select("doc_id", "text"))
    fixtures.foreach { docs =>
      val dist = UnigramOps.unigramFit(docs, col("text"),
        vocabSize = 150, seedSize = 300, emIters = 2)
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      val local = UnigramOps.unigramFitSampled(docs, col("text"),
        vocabSize = 150, seedSize = 300, emIters = 2,
        maxWords = 1 << 20)
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      assert(local == dist, "sampled/distributed unigram fit drift")
    }
    // the cap keeps the top-maxWords by (freq desc, word asc): with
    // maxWords=1 only "ab" (freq 3) survives, so the fitted table is
    // exactly {a, b, ab} with all mass on the whole word
    val capped = UnigramOps.unigramFitSampled(
      Seq((1L, "ab ab ab ac")).toDF("doc_id", "text"), col("text"),
      vocabSize = 5, seedSize = 10, emIters = 1, maxWords = 1)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(capped.keySet == Set("a", "b", "ab"),
      s"cap did not reduce the histogram: $capped")
    assert(capped("ab") == 3L)
  }

  test("unigramTokenize: coverage, fingerprint determinism, lm_logp sums") {
    val docs = Tables.documents(spark, sf).limit(40)
    val pieces = UnigramOps.unigramFit(docs, col("text"),
      vocabSize = 120, seedSize = 240, emIters = 1)
      .as[(String, Long, Double)].collect().map(r => (r._1, r._3)).toSeq
    // concat of emitted pieces reconstructs the text minus spaces
    val bad = docs.select(col("doc_id"),
        array_join(UnigramExpressions.unigramEncode(col("text"),
          pieces), "").as("joined"),
        regexp_replace(col("text"), " ", "").as("flat"))
      .where(col("joined") =!= col("flat")).count()
    assert(bad == 0L, "piece streams must cover the text exactly")
    val t1 = UnigramOps.unigramTokenize(docs, col("doc_id"), col("text"),
      pieces).orderBy("doc_id").collect().toSeq
    val t2 = UnigramOps.unigramTokenize(docs, col("doc_id"), col("text"),
      pieces).orderBy("doc_id").collect().toSeq
    assert(t1 == t2, "tokenize must be deterministic")
    assert(t1.forall(r => r.getLong(1) > 0L))
    assert(t1.forall(r => r.getDouble(3) < 0.0), "log-probs are negative")
  }
}
