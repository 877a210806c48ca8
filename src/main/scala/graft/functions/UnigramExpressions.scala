package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi segmentation under a FROZEN unigram-LM piece table — the
  * apply path of the SentencePiece-style tokenizer (Kudo, ACL 2018
  * "Subword Regularization", §3.1 unigram language model; the Viterbi
  * decode is his eq. (6) argmax). The piece table rides as DATA in one
  * codegen'd expression — the [[BpeEncode]] precedent: a literal
  * per-piece expression chain would put the vocabulary in the plan TREE
  * and melt Catalyst at production size, while here a 100 k-piece table
  * is one broadcast-serialized map probe-able in O(1).
  *
  * Per word: best(i) = max over pieces p = word(j..i) of
  * best(j) + logp(p) — O(len · maxPieceLen) map probes, independent of
  * vocabulary size. Determinism contract (pinned in UnigramSpec): ties
  * on the DP score resolve to the LONGER last piece; a character with no
  * covering piece segments as itself at [[UnigramExpressions.UnkLogp]]
  * (the tokenizer never fails, the <unk> convention). Whole-text
  * semantics mirror [[BpeEncode.encodeText]]: words are the non-empty
  * single-space splits, outputs flatten in order. Per-thread word cache
  * (Zipf leverage, bounded). */
case class UnigramEncode(child: Expression, pieces: Seq[(String, Double)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_encode"

  @transient private lazy val logp: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  @transient private lazy val maxPieceLen: Int =
    if (pieces.isEmpty) 1 else pieces.map(_._1.length).max

  @transient private lazy val cache =
    new ThreadLocal[java.util.HashMap[String, Array[String]]] {
      override def initialValue() =
        new java.util.HashMap[String, Array[String]]()
    }
  private val CacheCap = 1 << 16

  /** One word (no spaces) -> its Viterbi pieces under the frozen table. */
  def encodeWord(word: String): Array[String] = {
    val c = cache.get()
    val hit = c.get(word)
    if (hit != null) return hit
    val n = word.length
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1) // start index of the piece ending at i
    var i = 1
    while (i <= n) {
      best(i) = Double.NegativeInfinity
      back(i) = -1
      val lo = math.max(0, i - maxPieceLen)
      var j = lo
      while (j < i) {
        val lp = logp.get(word.substring(j, i))
        if (lp != null && best(j) > Double.NegativeInfinity) {
          val s = best(j) + lp.doubleValue()
          // ties -> the LONGER piece (smaller j); scanning j ascending
          // probes longest first, so a strictly-greater test keeps it
          if (s > best(i)) { best(i) = s; back(i) = j }
        }
        j += 1
      }
      if (back(i) == -1) {
        // no covering piece: the single character at i-1 is <unk>-priced
        // (i-1 is always reachable by induction, so best(i-1) is finite
        // whenever any prefix parse exists; at worst the whole word is
        // unk-priced character by character)
        best(i) = best(i - 1) + UnigramExpressions.UnkLogp
        back(i) = i - 1
      }
      i += 1
    }
    val rev = new java.util.ArrayList[String]()
    var at = n
    while (at > 0) { rev.add(word.substring(back(at), at)); at = back(at) }
    val out = new Array[String](rev.size)
    var k = 0
    while (k < out.length) { out(k) = rev.get(out.length - 1 - k); k += 1 }
    if (c.size >= CacheCap) c.clear()
    c.put(word, out)
    out
  }

  /** Whole text -> flattened pieces; word split identical to
    * [[BpeEncode.encodeText]]. */
  def encodeText(u: UTF8String): ArrayData = {
    val s = u.toString
    val toks = new java.util.ArrayList[UTF8String]()
    var from = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > from) {
          val ws = encodeWord(s.substring(from, i))
          var k = 0
          while (k < ws.length) {
            toks.add(UTF8String.fromString(ws(k))); k += 1
          }
        }
        from = i + 1
      }
      i += 1
    }
    new GenericArrayData(toks.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    encodeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("unigramEncode", this,
        classOf[UnigramEncode].getName)
      s"${ev.value} = $ref.encodeText($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnigramExpressions {
  val FnName = "unigram_encode"

  /** Log-probability priced to a character no piece covers — ln(1e-10),
    * far below any fitted piece on a real corpus (SentencePiece's
    * unk-score-below-minimum convention as a fixed constant, so the
    * segmentation of known text never routes through <unk>). */
  val UnkLogp: Double = math.log(1e-10)

  /** Compiled-tokenizer column (see [[UnigramEncode]]). `pieces` becomes
    * a FOLDABLE array<struct<piece string, logp double>> literal (the
    * frozen fitted table — a plan-time constant). */
  def unigramEncode(text: Column, pieces: Seq[(String, Double)]): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(pieces.map {
      case (p, lp) => UnigramPieceRow(p, lp) })
    call_function(FnName, text, lit)
  }
}

/** Struct shape of one piece row in the
  * [[UnigramExpressions.unigramEncode]] literal: field order
  * (piece, logp) is the wire contract the builder in [[NativeFunctions]]
  * parses. */
case class UnigramPieceRow(piece: String, logp: Double)
