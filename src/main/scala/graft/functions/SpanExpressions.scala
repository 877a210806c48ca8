package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernel for [[graft.operators.TextOps.spanCorruptionMask]] —
  * the whole per-document job (tokenize, per-position hash draws, span
  * coverage, merged-run sentinels, both output strings, their polynomial
  * hashes) in one imperative pass per row.
  *
  * The composable form builds its two output strings with `aggregate`
  * folds whose accumulator ARRAYS are copied per position — O(len²) array
  * allocations per document, measured ~20 µs/token at 54-token documents
  * and growing linearly in document length on top of that. This kernel is
  * O(len·meanSpan) with two string builders and zero intermediate arrays;
  * output equality with the composable form is the contract, pinned in
  * PipelineOpsSpec (fixed corpus) and PropertySpec (randomized texts).
  * Same value convention as [[PolyHash]] for the fingerprints (code-point
  * fold mod [[TextHash.P]]; empty string hashes to 0). */
case class SpanCorrupt(left: Expression, right: Expression,
    maskRate: Double, meanSpan: Int) extends BinaryExpression {

  override def dataType: DataType = SpanCorrupt.OutType
  override def prettyName: String = "span_corrupt"

  private val maxL = 2 * meanSpan - 1
  private val startThr = math.round(maskRate / meanSpan * 1e6)

  private def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % TextHash.P
      i += Character.charCount(cp)
    }
    acc
  }

  /** The full row kernel (called from generated code too). */
  def corrupt(textU: UTF8String, docId: Long): InternalRow = {
    val text = textU.toString
    // tokens: non-empty single-space splits
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
    val n = toks.size
    val P = TextHash.P
    val mixed = {
      val m = (polyHash(text) * 31L + docId) % P
      if (m < 0) m + P else m
    }
    // per-position draws -> start flags and span lengths
    val start = new Array[Boolean](n + 1)
    val spanLen = new Array[Long](n + 1)
    var j = 1
    while (j <= n) {
      val d = ((mixed + j) * 2654435761L) % P
      val dp = if (d < 0) d + P else d
      start(j) = dp % 1000000L < startThr
      spanLen(j) = 1L + (dp / 1000000L) % maxL
      j += 1
    }
    // masked(j): some start i in (j-maxL, j] covers j
    val masked = new Array[Boolean](n + 1)
    j = 1
    while (j <= n) {
      var i2 = math.max(1, j - maxL + 1)
      var hit = false
      while (!hit && i2 <= j) {
        hit = start(i2) && j < i2 + spanLen(i2)
        i2 += 1
      }
      masked(j) = hit
      j += 1
    }
    // one pass builds both strings + the counters
    val inp = new java.lang.StringBuilder
    val tgt = new java.lang.StringBuilder
    var k = 0
    var nMasked = 0L
    def app(sb: java.lang.StringBuilder, s: String): Unit = {
      if (sb.length > 0) sb.append(' ')
      sb.append(s)
    }
    j = 1
    while (j <= n) {
      val tok = toks.get(j - 1)
      if (!masked(j)) app(inp, tok)
      else {
        nMasked += 1L
        if (j == 1 || !masked(j - 1)) {
          val sentinel = "<extra_id_" + k + ">"
          app(inp, sentinel)
          app(tgt, sentinel)
          k += 1
        }
        app(tgt, tok)
      }
      j += 1
    }
    val inpS = inp.toString
    val tgtS = tgt.toString
    new GenericInternalRow(Array[Any](
      n.toLong, nMasked, k.toLong, inpS.length.toLong,
      polyHash(inpS), polyHash(tgtS),
      UTF8String.fromString(inpS), UTF8String.fromString(tgtS)))
  }

  override def nullSafeEval(text: Any, docId: Any): Any =
    corrupt(text.asInstanceOf[UTF8String], docId.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d) => {
      val ref = ctx.addReferenceObj("spanCorrupt", this,
        classOf[SpanCorrupt].getName)
      s"${ev.value} = $ref.corrupt($t, $d);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SpanCorrupt {
  val OutType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_masked", LongType, nullable = false),
    StructField("n_spans", LongType, nullable = false),
    StructField("input_len", LongType, nullable = false),
    StructField("input_fp", LongType, nullable = false),
    StructField("target_fp", LongType, nullable = false),
    StructField("input_text", StringType, nullable = false),
    StructField("target_text", StringType, nullable = false)))
}

object SpanExpressions {
  val FnName = "span_corrupt"

  /** Compiled span-corruption struct column (see [[SpanCorrupt]]).
    * `maskRate` and `meanSpan` become literals baked into the kernel's
    * thresholds. */
  def spanCorrupt(text: Column, docId: Column, maskRate: Double,
      meanSpan: Int): Column =
    call_function(FnName, text, docId,
      org.apache.spark.sql.functions.lit(maskRate),
      org.apache.spark.sql.functions.lit(meanSpan))
}
