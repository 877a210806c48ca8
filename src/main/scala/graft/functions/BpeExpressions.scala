package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled BPE tokenization under a FROZEN merge table — the production
  * apply path ([[graft.operators.BpeOps.bpeTokensExpr]]'s scaladoc'd
  * "documented scale path", landed).
  *
  * The composable form chains one `aggregate` HOF per merge, so a 32 k-merge
  * production vocabulary would build (and Catalyst would analyze + codegen)
  * a 32 k-node expression tree per plan — the tree construction alone is
  * minutes, and the generated method exceeds every JIT limit. This
  * expression carries the merge table as DATA (one rank map, built once per
  * instance) and encodes each word imperatively with semantics IDENTICAL to
  * the fold chain:
  *
  * Fold-by-rank contract (Sennrich ACL 2016's learn-time rewrite, the same
  * function `bpeTokensExpr` computes): merges apply strictly in rank order;
  * each applying merge rewrites the word greedily left-to-right
  * non-overlapping. The loop below is that contract with skips: the next
  * merge that CAN apply is the minimum-rank adjacent pair at or above the
  * cursor (absent pairs' scans are no-ops, so skipping them is exact), and
  * a merge can never recreate its own pair (`l+r` differs from both `l` and
  * `r` — non-empty concatenation), so the cursor advances strictly. Cost:
  * O(len^2) map probes per word, INDEPENDENT of vocabulary size — vs the
  * chain's O(merges x len). Note this is deliberately NOT the min-rank
  * priority-queue apply of subword-nmt's `apply_bpe.py`: that algorithm
  * revisits ranks below the cursor when a later merge recreates an earlier
  * pair's string (e.g. learned ("a","bc") reappearing after ("ab","c")
  * fires), so it can diverge from the fold chain on adversarial tables;
  * parity with [[graft.operators.BpeOps.bpeTokensExpr]] is this
  * expression's contract and is definitional here, pinned in BpeSpec.
  *
  * Zipf leverage: word-to-tokens is cached per thread (bounded; cleared
  * when full). A natural-language corpus re-encodes the head of the
  * vocabulary constantly — the cache turns the per-word loop into a hash
  * probe for every repeated word, the standard production-tokenizer
  * trick. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)],
    byteLevel: Boolean = false, wholeInput: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (wholeInput) "byte_bpe_encode_pre"
    else if (byteLevel) "byte_bpe_encode"
    else "bpe_encode"

  // Rank map rebuilt per (de)serialized instance; the joint is a space
  // (symbols come from single-space-split words, so no symbol contains
  // one). A pair maps to ALL its ranks, ascending: the same (l, r) pair
  // can occur at several ranks and the later ones are NOT dead — a merge
  // between the duplicates can re-manufacture the symbol string (e.g.
  // ("a","b") recreates "ab" after an earlier ("ab","c") consumed it) and
  // the fold chain fires the later duplicate too.
  @transient private lazy val ranks: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      val k = l + " " + r
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i) else prev :+ i)
    }
    m
  }

  @transient private lazy val cache =
    new ThreadLocal[java.util.HashMap[String, Array[String]]] {
      override def initialValue() =
        new java.util.HashMap[String, Array[String]]()
    }
  private val CacheCap = 1 << 16

  /** Smallest rank >= cur for this adjacent pair, or Int.MaxValue. */
  private def rankAtOrAbove(l: String, r: String, cur: Int): Int = {
    val rs = ranks.get(l + " " + r)
    if (rs == null) Int.MaxValue
    else {
      var i = 0
      while (i < rs.length && rs(i) < cur) i += 1
      if (i < rs.length) rs(i) else Int.MaxValue
    }
  }

  /** One word (no spaces) -> its BPE tokens under the frozen table. */
  def encodeWord(word: String): Array[String] = {
    val c = cache.get()
    val hit = c.get(word)
    if (hit != null) return hit
    // start symbols: char-level = code points + the end-of-word marker;
    // byte-level = the word's UTF-8 octets as uppercase hex pairs, NO
    // marker and NO possible UNK (the GPT-2-family base-alphabet
    // property: 256 symbols cover every input by construction)
    var syms = {
      if (byteLevel) {
        val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val buf = new java.util.ArrayList[String](bytes.length)
        var i = 0
        while (i < bytes.length) {
          buf.add(String.format("%02X", Byte.box(bytes(i))))
          i += 1
        }
        buf
      } else {
        val buf = new java.util.ArrayList[String](word.length + 1)
        var i = 0
        while (i < word.length) {
          val cp = word.codePointAt(i)
          val n = Character.charCount(cp)
          buf.add(word.substring(i, i + n))
          i += n
        }
        buf.add(graft.operators.BpeOps.EndOfWord)
        buf
      }
    }
    var cur = 0
    var continue = true
    while (continue && syms.size > 1) {
      // min-rank adjacent pair at or above the cursor
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.size - 1) {
        val r = rankAtOrAbove(syms.get(i), syms.get(i + 1), cur)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val (l, r) = merges(bestRank)
        // the fold chain's greedy left-to-right non-overlapping rewrite
        val next = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          val t = syms.get(j)
          if (!next.isEmpty && next.get(next.size - 1) == l && t == r)
            next.set(next.size - 1, l + r)
          else next.add(t)
          j += 1
        }
        syms = next
        cur = bestRank + 1
      }
    }
    val out = new Array[String](syms.size)
    var i = 0
    while (i < syms.size) { out(i) = syms.get(i); i += 1 }
    if (c.size >= CacheCap) c.clear()
    c.put(word, out)
    out
  }

  /** Whole text -> flattened tokens: words are the non-empty single-space
    * splits, exactly `filter(split(text, " "), w => length(w) > 0)` —
    * except in `wholeInput` mode (the pre-tokenized byte path), where
    * the ENTIRE input is one unit: a GPT-style pre-token carries its
    * leading space as part of the token, so splitting would corrupt
    * the byte stream. */
  def encodeText(u: UTF8String): ArrayData = {
    val s = u.toString
    if (wholeInput) {
      if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
      val ws = encodeWord(s)
      val arr = new Array[Any](ws.length)
      var k = 0
      while (k < ws.length) { arr(k) = UTF8String.fromString(ws(k)); k += 1 }
      return new GenericArrayData(arr)
    }
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
      val ref = ctx.addReferenceObj("bpeEncode", this,
        classOf[BpeEncode].getName)
      s"${ev.value} = $ref.encodeText($input);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** GPT-2 pre-tokenization (Radford et al. 2019 §2.2) as ONE compiled
  * code-point scan — the kernel form of [[graft.operators.BpeOps
  * .gptPreTokenizeExpr]]'s two-regex-pass Column tree (boundary-mark
  * replace + split + per-segment extract). Same output by construction:
  * the scan IS the published alternation evaluated left-to-right —
  * contraction suffix first (token start only; a mid-run apostrophe
  * stays inside its symbol run, the regex's no-mid-match semantics),
  * then the ` ?`-led letter / number / other-symbol runs (one optional
  * leading SPACE, classes = Java `\p{L}` / `\p{N}` / the complement
  * minus the explicit ASCII whitespace set), then the whitespace-run
  * rule with the `\s+(?!\S)` donation built in: a run followed by
  * non-whitespace emits all-but-last-char as one token, a trailing
  * SPACE rides the next run's ` ?`, a trailing non-space whitespace
  * char stands alone. Classes are disjoint and cover every code point,
  * so the emitted tokens PARTITION the input (concat == identity).
  * Kernel ≡ the two-pass reference is pinned in BpeSpec over the
  * GPT-2 fixtures, randomized colliding-part strings, and the corpus.
  *
  * Why: the production GPT tokenization path (q200's shape — the one a
  * 100 TB corpus actually runs) paid two full regex passes + a split +
  * a flatten per document before the byte encode; this is one O(len)
  * scan, zero regex. The DuckDB oracle keeps replaying the two-pass
  * SQL twin ([[graft.operators.BpeOps.gptPreTokensSql]]) verbatim. */
case class GptPreTokenize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gpt_pre_tokenize"

  def segment(u: UTF8String): ArrayData = {
    val s = u.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Object](16)
    GptSegmenter.scan(s, (a, b) =>
      out.add(UTF8String.fromString(s.substring(a, b))))
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any =
    segment(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("gptPreTok", this,
        classOf[GptPreTokenize].getName)
      s"${ev.value} = $ref.segment($v);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** The one-scan GPT-2 segmentation itself, as an [a, b) boundary
  * emitter shared by [[GptPreTokenize]] (emits the pre-token strings)
  * and [[GptByteBpe]] (encodes each pre-token in place, never
  * materializing the pre-token array). */
object GptSegmenter {

  // The full Unicode White_Space=Yes set (25 BMP code points) -- in
  // lockstep with [[graft.operators.BpeOps.GptWsClass]] (the regex twin)
  // and its SQL form (r17 verdict item 1: Python `regex`'s whitespace
  // shorthand, the published pattern's engine, is Unicode-aware, so
  // NBSP, the typographic spaces, line/paragraph separators, and the
  // ideographic space are whitespace to the reference tokenizer). A
  // Char test covers the whole class: no member is astral and a
  // surrogate half can never equal one (the D800-DFFF block is
  // disjoint).
  private def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') || c == '\u0085' ||
      c == '\u00A0' || c == '\u1680' ||
      (c >= '\u2000' && c <= '\u200A') ||
      c == '\u2028' || c == '\u2029' || c == '\u202F' ||
      c == '\u205F' || c == '\u3000'
  private def isNum(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** Emit each pre-token's code-unit span [a, b), left to right; the
    * spans partition `s`. Only a LITERAL space (U+0020) can lead a run
    * via ` ?` or be donated across a `\s+(?!\S)` boundary -- the
    * published pattern's ` ?` is a literal space, so any other
    * whitespace char at a run boundary stands alone like a tab. */
  def scan(s: String, add: (Int, Int) => Unit): Unit = {
    val n = s.length
    // the ` ?X+` rule: consume the class run whose first code point sits
    // at `p` (non-whitespace by the callers' guards); the token starts
    // at `tokStart` (== p, or p-1 when a leading space rides). Returns
    // the run end.
    def run(tokStart: Int, p: Int): Int = {
      val cp0 = s.codePointAt(p)
      var j = p + Character.charCount(cp0)
      if (Character.isLetter(cp0)) {
        while (j < n && Character.isLetter(s.codePointAt(j)))
          j += Character.charCount(s.codePointAt(j))
      } else if (isNum(cp0)) {
        while (j < n && isNum(s.codePointAt(j)))
          j += Character.charCount(s.codePointAt(j))
      } else {
        var go = true
        while (j < n && go) {
          val cp = s.codePointAt(j)
          go = !Character.isLetter(cp) && !isNum(cp) &&
            !(cp < 0x10000 && isWs(cp.toChar))
          if (go) j += Character.charCount(cp)
        }
      }
      add(tokStart, j)
      j
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\'' && i + 1 < n && {
        val c1 = s.charAt(i + 1)
        c1 == 's' || c1 == 't' || c1 == 'm' || c1 == 'd'
      }) { add(i, i + 2); i += 2 }
      else if (c == '\'' && i + 2 < n && {
        val c2 = s.charAt(i + 1); val c3 = s.charAt(i + 2)
        (c2 == 'r' && c3 == 'e') || (c2 == 'v' && c3 == 'e') ||
          (c2 == 'l' && c3 == 'l')
      }) { add(i, i + 3); i += 3 }
      else if (c == ' ' && i + 1 < n && !isWs(s.charAt(i + 1)))
        i = run(i, i + 1) // ` ?X+` absorption
      else if (isWs(c)) {
        var j = i
        while (j < n && isWs(s.charAt(j))) j += 1
        if (j >= n || j - i == 1) { add(i, j); i = j } // trailing / lone
        else {
          add(i, j - 1) // the `\s+(?!\S)` piece: run minus last char
          if (s.charAt(j - 1) == ' ') i = run(j - 1, j) // donated space
          else { add(j - 1, j); i = j } // a tab/NBSP/... stands alone
        }
      }
      else i = run(i, i)
    }
  }
}

/** The FUSED production GPT tokenize path (r17 verdict item 2):
  * pre-tokenize then byte-BPE-encode in ONE compiled scan. The staged
  * form (`transform(gpt_pre_tokenize(text), t =>
  * byte_bpe_encode_pre(t, m))`) pays a Catalyst HOF -- HOFs are
  * CodegenFallback, so one node drops the enclosing projection to
  * interpreted eval (the repo's r14 lesson) -- and materializes the
  * pre-token array per document. Here the [[GptSegmenter]] boundary
  * scan feeds each pre-token span straight into [[BpeEncode]]'s
  * byte-level whole-input coder (same rank maps, same per-thread Zipf
  * cache; fused == staged is pinned in BpeSpec over fixtures,
  * randomized strings, and the corpus), so a document tokenizes in one
  * codegen'd expression with zero regex, zero HOF, and zero
  * intermediate array. */
case class GptByteBpe(child: Expression, merges: Seq[(String, String)],
    specials: Seq[String] = Nil)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gpt_byte_bpe"

  // BpeEncode's byte-level whole-input machinery reused as the
  // per-pre-token coder (rank map + bounded per-thread word cache);
  // held as data, never evaluated as an expression itself.
  @transient private lazy val coder =
    BpeEncode(child, merges, byteLevel = true, wholeInput = true)

  // SPECIAL tokens (the tiktoken/HF `allowed_special` contract): each
  // is ATOMIC — never pre-tokenized, never merged, never split — and
  // emits as ONE token, its UTF-8 hex (so `concat(unhex(tokens))`
  // stays the full-text identity). Occurrence resolution is
  // leftmost-first, ties to the LONGEST special (so "<|eot|>x" beats
  // "<|eot|>" at the same offset — the standard trie-match rule).
  @transient private lazy val specialsByLen: Seq[(String, UTF8String)] =
    specials.distinct.sortBy(-_.length).map { sp =>
      (sp, UTF8String.fromString(
        sp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => f"${b & 0xff}%02X").mkString))
    }

  def encodeAll(u: UTF8String): ArrayData = {
    val s = u.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Object](32)
    def emitSegment(seg: String): Unit =
      GptSegmenter.scan(seg, (a, b) => {
        val ws = coder.encodeWord(seg.substring(a, b))
        var k = 0
        while (k < ws.length) {
          out.add(UTF8String.fromString(ws(k))); k += 1
        }
      })
    if (specialsByLen.isEmpty) emitSegment(s)
    else {
      var cur = 0
      while (cur < s.length) {
        // earliest special occurrence at/after cur; tie -> longest
        // (specialsByLen is length-desc, so the first strict '<' wins)
        var bestPos = -1
        var bestSp: (String, UTF8String) = null
        specialsByLen.foreach { sp =>
          val p = s.indexOf(sp._1, cur)
          if (p >= 0 && (bestPos < 0 || p < bestPos)) {
            bestPos = p; bestSp = sp
          }
        }
        if (bestPos < 0) { emitSegment(s.substring(cur)); cur = s.length }
        else {
          if (bestPos > cur) emitSegment(s.substring(cur, bestPos))
          out.add(bestSp._2)
          cur = bestPos + bestSp._1.length
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any =
    encodeAll(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("gptByteBpe", this,
        classOf[GptByteBpe].getName)
      s"${ev.value} = $ref.encodeAll($v);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Vocabulary id lookup as ONE compiled probe per token: array<string>
  * tokens → array<bigint> ids under a FROZEN (token → id) table held as
  * instance data — the last step turning a packed token stream into the
  * integer sequences a trainer consumes. A literal `map()` column
  * (`element_at(typedlit(m), tok)`) walks Catalyst's ArrayBasedMapData
  * LINEARLY per lookup — O(|vocab|) per token, ruinous at a 50k-entry
  * trainer vocabulary; this kernel is the constant-time hash probe (the
  * [[BpeEncode]] table-as-data pattern). Duplicate token strings keep
  * the SMALLEST id (a merge can re-manufacture an earlier merge's
  * string — the vocab is keyed by string, one id per string, exactly
  * the GPT-2 vocab-file semantics). A token absent from the table fails
  * LOUDLY: under the matching frozen merge table every encoder output
  * is a base byte or a merge result, so a miss means vocab/merges skew
  * — silent NULLs would corrupt training data undetectably. */
case class TokenIds(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_ids"

  @transient private lazy val ids
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, i) =>
      val k = UTF8String.fromString(t)
      val prev = m.get(k)
      if (prev == null || i < prev) m.put(k, i)
    }
    m
  }

  def lookupAll(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val id = ids.get(t)
      if (id == null) throw new IllegalArgumentException(
        s"token_ids: token '$t' not in the ${vocab.size}-entry " +
          "vocabulary — the id table does not match the merge table " +
          "that produced these tokens")
      out(i) = id.longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    lookupAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("tokenIds", this,
        classOf[TokenIds].getName)
      s"${ev.value} = $ref.lookupAll($input);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object BpeExpressions {
  val FnName = "bpe_encode"

  /** Byte-level variant's function name (see [[BpeEncode.byteLevel]]). */
  val ByteFnName = "byte_bpe_encode"

  /** Whole-input byte-level variant (see [[BpeEncode.wholeInput]]) —
    * the per-PRE-TOKEN encode: input is one unit, spaces included. */
  val BytePreFnName = "byte_bpe_encode_pre"

  /** The one-scan GPT pre-tokenizer (see [[GptPreTokenize]]). */
  val GptPreFnName = "gpt_pre_tokenize"

  /** The fused pre-tokenize∘byte-BPE kernel (see [[GptByteBpe]]). */
  val GptByteBpeFnName = "gpt_byte_bpe"

  /** The vocabulary id-lookup kernel (see [[TokenIds]]). */
  val TokenIdsFnName = "token_ids"

  /** Compiled-tokenizer column (see [[BpeEncode]]). `merges` becomes a
    * FOLDABLE array<struct<l string, r string>> literal (the frozen merge
    * table — tokenizers are fitted once, the table is a plan-time
    * constant). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(merges.map {
      case (l, r) => BpeMergeRow(l, r) })
    call_function(FnName, text, lit)
  }

  /** Byte-level compiled-tokenizer column: symbols are the UTF-8 octets
    * as uppercase hex pairs, no end-of-word marker, no UNK possible.
    * Merge table entries are hex-pair concatenations (fit under
    * [[graft.operators.BpeOps.toByteSymbols]]). */
  def byteBpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(merges.map {
      case (l, r) => BpeMergeRow(l, r) })
    call_function(ByteFnName, text, lit)
  }

  /** Per-PRE-TOKEN byte-level encode: the whole input (spaces and all)
    * is one BPE unit — apply inside a `transform` over
    * [[graft.operators.BpeOps.gptPreTokenize]]'s output. */
  def byteBpeEncodePre(token: Column,
      merges: Seq[(String, String)]): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(merges.map {
      case (l, r) => BpeMergeRow(l, r) })
    call_function(BytePreFnName, token, lit)
  }

  /** One-scan GPT pre-tokenization column (see [[GptPreTokenize]]). */
  def gptPreTokens(text: Column): Column =
    call_function(GptPreFnName, text)

  /** FUSED pre-tokenize∘byte-BPE column (see [[GptByteBpe]]) — the
    * production GPT tokenize path. Pass `specials` for ATOMIC special
    * tokens (document separators — never pre-tokenized, never merged;
    * each emits as one token, its UTF-8 hex, so the decode identity
    * holds). */
  def gptByteBpe(text: Column, merges: Seq[(String, String)],
      specials: Seq[String] = Nil): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(merges.map {
      case (l, r) => BpeMergeRow(l, r) })
    if (specials.isEmpty) call_function(GptByteBpeFnName, text, lit)
    else call_function(GptByteBpeFnName, text, lit,
      org.apache.spark.sql.functions.typedlit(specials))
  }

  /** Vocabulary id-lookup column (see [[TokenIds]]). `vocab` is the
    * frozen (token, id) table — duplicates resolve to the smallest id. */
  def tokenIds(tokens: Column, vocab: Seq[(String, Long)]): Column = {
    val lit = org.apache.spark.sql.functions.typedlit(vocab.map {
      case (t, i) => VocabIdRow(t, i) })
    call_function(TokenIdsFnName, tokens, lit)
  }
}

/** Struct shape of one vocabulary row in the [[BpeExpressions.tokenIds]]
  * literal: field order (t, i) is the wire contract the builder in
  * [[NativeFunctions]] parses. */
case class VocabIdRow(t: String, i: Long)

/** Struct shape of one merge row in the [[BpeExpressions.bpeEncode]]
  * literal: field order (l, r) is the wire contract the builder in
  * [[NativeFunctions]] parses. */
case class BpeMergeRow(l: String, r: String)
