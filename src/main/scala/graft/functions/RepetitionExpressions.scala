package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernel for the Gopher repetition-quality rules (Rae et al.
  * 2021, arXiv:2112.11446, Table A1): the per-document self-repetition
  * signals a curation pipeline thresholds BEFORE any cross-document
  * dedup. One imperative pass per row — hash-map n-gram counting is
  * O(len) per n-value, thirteen signals and the keep verdict in a single
  * projected struct, zero shuffle (the [[SpanCorrupt]]/[[BpeEncode]]
  * precedent: per-doc kernels compile to one codegen'd expression).
  *
  * Signal conventions (the paper specifies the signals, not the exact
  * accounting; these are the conventions this library pins, identical in
  * the kernel, the reference model in RepetitionSpec, and the q126
  * DuckDB oracle):
  *  - lines / paragraphs: non-empty splits on `\n` / `\n\n`;
  *    `dup_*_frac` counts occurrences beyond the first of each distinct
  *    value over total parts; `dup_*_char_frac` weights those duplicate
  *    occurrences by character length over total part characters.
  *  - words: non-empty single-space splits. `n_chars` is the sum of
  *    token characters (separators excluded) — the denominator of every
  *    n-gram character fraction.
  *  - `top_{2,3,4}gram_frac`: characters claimed by the most frequent
  *    n-gram = count × its token characters, over `n_chars`; 0 unless
  *    the top count ≥ 2 (an unrepeated n-gram is not repetition); ties
  *    resolve to the lexicographically smallest gram (space-joined —
  *    injective because tokens contain no spaces).
  *  - `dup_{5..10}gram_frac`: characters of tokens covered by ANY
  *    n-gram occurring ≥ 2 times, over `n_chars` — per-character
  *    coverage, so overlapping duplicated grams never double-count.
  *  - all fractions round HALF_UP to 6 decimals (the library's
  *    cross-engine rounding convention) and `keep` compares the ROUNDED
  *    values against the published thresholds, so the verdict is
  *    engine-reproducible.
  */
case class RepetitionSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionSignals.OutType
  override def prettyName: String = "repetition_signals"

  // Spark's Round(double) goes through BigDecimal.valueOf (the
  // shortest-decimal rendering) before HALF_UP — the same path here keeps
  // the kernel bit-identical to the `round(col, 6)` the library's other
  // oracle-matched fractions use.
  private def round6(x: Double): Double =
    if (x == 0.0) 0.0
    else JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** (dup occurrences beyond first / total, dup chars / total chars) */
  private def dupFracs(parts: Array[String]): (Double, Double) = {
    var nParts = 0
    var totChars = 0L
    var dupParts = 0L
    var dupChars = 0L
    val counts = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < parts.length) {
      val p = parts(i)
      if (p.nonEmpty) {
        nParts += 1
        totChars += p.length
        val seen = counts.merge(p, 1, (a, b) => a + b)
        if (seen > 1) { dupParts += 1; dupChars += p.length }
      }
      i += 1
    }
    (if (nParts == 0) 0.0 else round6(dupParts.toDouble / nParts),
      if (totChars == 0L) 0.0 else round6(dupChars.toDouble / totChars))
  }

  def signals(textU: UTF8String): InternalRow = {
    val text = textU.toString

    val (dlf, dlcf) = dupFracs(text.split("\n", -1))
    val (dpf, dpcf) = dupFracs(text.split("\n\n", -1))

    // whitespace tokens (non-empty single-space splits)
    val toks = new java.util.ArrayList[String]()
    var from = 0
    var i = 0
    val len = text.length
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (i > from) toks.add(text.substring(from, i))
        from = i + 1
      }
      i += 1
    }
    val nW = toks.size
    var totChars = 0L
    i = 0
    while (i < nW) { totChars += toks.get(i).length; i += 1 }

    // space-joined n-gram starting at token index s (0-based), width n
    def gram(s: Int, n: Int): String = {
      val sb = new java.lang.StringBuilder
      var j = s
      while (j < s + n) {
        if (j > s) sb.append(' ')
        sb.append(toks.get(j))
        j += 1
      }
      sb.toString
    }

    // top n-gram char fraction for n = 2..4
    def topFrac(n: Int): Double = {
      if (nW < n || totChars == 0L) return 0.0
      val counts = new java.util.HashMap[String, Integer]()
      var bestCnt = 0
      var bestGram: String = null
      var s = 0
      while (s <= nW - n) {
        val g = gram(s, n)
        val c: Int = counts.merge(g, 1, (a, b) => a + b)
        if (c > bestCnt || (c == bestCnt && g.compareTo(bestGram) < 0)) {
          bestCnt = c
          bestGram = g
        }
        s += 1
      }
      if (bestCnt < 2) 0.0
      else {
        val gramChars = bestGram.length.toLong - (n - 1)
        round6(bestCnt.toDouble * gramChars / totChars)
      }
    }

    // duplicated n-gram char coverage for n = 5..10
    def dupCoverage(n: Int): Double = {
      if (nW < n || totChars == 0L) return 0.0
      val nG = nW - n + 1
      val grams = new Array[String](nG)
      val counts = new java.util.HashMap[String, Integer]()
      var s = 0
      while (s < nG) {
        grams(s) = gram(s, n)
        counts.merge(grams(s), 1, (a, b) => a + b)
        s += 1
      }
      val covered = new Array[Boolean](nW)
      s = 0
      while (s < nG) {
        if (counts.get(grams(s)) >= 2) {
          var j = s
          while (j < s + n) { covered(j) = true; j += 1 }
        }
        s += 1
      }
      var covChars = 0L
      var j = 0
      while (j < nW) {
        if (covered(j)) covChars += toks.get(j).length
        j += 1
      }
      round6(covChars.toDouble / totChars)
    }

    val top2 = topFrac(2); val top3 = topFrac(3); val top4 = topFrac(4)
    val d5 = dupCoverage(5); val d6 = dupCoverage(6); val d7 = dupCoverage(7)
    val d8 = dupCoverage(8); val d9 = dupCoverage(9); val d10 = dupCoverage(10)

    import RepetitionSignals._
    val keep =
      dlf <= DupLineThr && dpf <= DupParaThr &&
        dlcf <= DupLineCharThr && dpcf <= DupParaCharThr &&
        top2 <= Top2Thr && top3 <= Top3Thr && top4 <= Top4Thr &&
        d5 <= Dup5Thr && d6 <= Dup6Thr && d7 <= Dup7Thr &&
        d8 <= Dup8Thr && d9 <= Dup9Thr && d10 <= Dup10Thr

    new GenericInternalRow(Array[Any](
      nW.toLong, totChars, dlf, dlcf, dpf, dpcf,
      top2, top3, top4, d5, d6, d7, d8, d9, d10, keep))
  }

  override def nullSafeEval(text: Any): Any =
    signals(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("repetitionSignals", this,
        classOf[RepetitionSignals].getName)
      s"${ev.value} = $ref.signals($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionSignals {
  // Gopher Table A1 removal thresholds (a doc is kept iff every signal is
  // at or below its threshold).
  val DupLineThr = 0.30
  val DupParaThr = 0.30
  val DupLineCharThr = 0.20
  val DupParaCharThr = 0.20
  val Top2Thr = 0.20
  val Top3Thr = 0.18
  val Top4Thr = 0.16
  val Dup5Thr = 0.15
  val Dup6Thr = 0.14
  val Dup7Thr = 0.13
  val Dup8Thr = 0.12
  val Dup9Thr = 0.11
  val Dup10Thr = 0.10

  val OutType: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("dup_para_frac", DoubleType, nullable = false),
    StructField("dup_para_char_frac", DoubleType, nullable = false),
    StructField("top_2gram_frac", DoubleType, nullable = false),
    StructField("top_3gram_frac", DoubleType, nullable = false),
    StructField("top_4gram_frac", DoubleType, nullable = false),
    StructField("dup_5gram_frac", DoubleType, nullable = false),
    StructField("dup_6gram_frac", DoubleType, nullable = false),
    StructField("dup_7gram_frac", DoubleType, nullable = false),
    StructField("dup_8gram_frac", DoubleType, nullable = false),
    StructField("dup_9gram_frac", DoubleType, nullable = false),
    StructField("dup_10gram_frac", DoubleType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))
}

object RepetitionExpressions {
  val FnName = "repetition_signals"

  /** Compiled repetition-signals struct column (see
    * [[RepetitionSignals]]). */
  def repetitionSignals(text: Column): Column = call_function(FnName, text)
}
