package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled WordPiece tokenization under a FROZEN vocabulary — the
  * [[BpeEncode]] pattern for the BERT-family apply path (Devlin et al.
  * 2019 §A; the greedy longest-match-first contract of the public
  * WordPieceTokenizer): per word, repeatedly take the LONGEST vocabulary
  * piece matching at the cursor (`##`-form after the first position);
  * any position with no match — or a word over
  * [[graft.operators.WordPieceOps.MaxWordChars]] code points — yields
  * one `[UNK]` for the WHOLE word (partial tokens are discarded, the
  * published behavior).
  *
  * The vocabulary is DATA (one hash set per instance, plus the max piece
  * length so the longest-match scan starts at `min(remaining, maxLen)`
  * instead of `remaining`); cost is O(len · maxPieceLen) substring
  * probes per word, independent of vocabulary size. Same per-thread
  * word→tokens cache as [[BpeEncode]] (Zipf head leverage). Code-point
  * boundaries are respected — a piece never splits a surrogate pair. */
case class WordPieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wordpiece_encode"

  @transient private lazy val pieces: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add)
    s
  }

  @transient private lazy val maxPieceLen: Int = {
    val cont = graft.operators.WordPieceOps.Continuation
    // raw (not ##-marked) length bound on the matched substring
    vocab.foldLeft(1) { (m, p) =>
      math.max(m, if (p.startsWith(cont)) p.length - cont.length else p.length)
    }
  }

  @transient private lazy val cache =
    new ThreadLocal[java.util.HashMap[String, Array[String]]] {
      override def initialValue() =
        new java.util.HashMap[String, Array[String]]()
    }
  private val CacheCap = 1 << 16

  /** One word (no spaces) -> its WordPiece tokens under the frozen
    * vocabulary. */
  def encodeWord(word: String): Array[String] = {
    val c = cache.get()
    val hit = c.get(word)
    if (hit != null) return hit
    val cont = graft.operators.WordPieceOps.Continuation
    val unk = graft.operators.WordPieceOps.Unk
    // code-point start offsets (so substring probes never split a pair)
    val starts = {
      val b = new java.util.ArrayList[Integer](word.length + 1)
      var i = 0
      while (i < word.length) {
        b.add(i)
        i += Character.charCount(word.codePointAt(i))
      }
      b.add(word.length)
      b
    }
    val nCp = starts.size - 1
    val out: Array[String] =
      if (nCp > graft.operators.WordPieceOps.MaxWordChars) Array(unk)
      else {
        val toks = new java.util.ArrayList[String](4)
        var pos = 0 // code-point index
        var failed = false
        while (!failed && pos < nCp) {
          var end = math.min(nCp, pos + maxPieceLen) // exclusive, cp index
          var matched: String = null
          while (matched == null && end > pos) {
            val raw = word.substring(starts.get(pos), starts.get(end))
            val candidate = if (pos == 0) raw else cont + raw
            if (pieces.contains(candidate)) matched = candidate
            else end -= 1
          }
          if (matched == null) failed = true
          else { toks.add(matched); pos = end }
        }
        if (failed) Array(unk)
        else {
          val a = new Array[String](toks.size)
          var i = 0
          while (i < toks.size) { a(i) = toks.get(i); i += 1 }
          a
        }
      }
    if (c.size >= CacheCap) c.clear()
    c.put(word, out)
    out
  }

  /** Whole text -> flattened tokens over the non-empty single-space
    * splits (exactly `filter(split(text, " "), w => length(w) > 0)`). */
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
      val ref = ctx.addReferenceObj("wordPieceEncode", this,
        classOf[WordPieceEncode].getName)
      s"${ev.value} = $ref.encodeText($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordPieceExpressions {
  val FnName = "wordpiece_encode"

  /** Compiled-tokenizer column (see [[WordPieceEncode]]). `vocab`
    * becomes a FOLDABLE array<string> literal (the frozen vocabulary —
    * tokenizers are fitted once, the table is a plan-time constant). */
  def wordPieceEncode(text: Column, vocab: Seq[String]): Column =
    call_function(FnName, text,
      org.apache.spark.sql.functions.typedlit(vocab))
}
