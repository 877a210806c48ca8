package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled multi-pattern substring screen — an Aho-Corasick automaton
  * (Aho & Corasick, CACM 1975) over a FROZEN pattern list (blocklists,
  * spam phrases, licensing strings), baked as a plan-time constant (the
  * [[BpeEncode]] frozen-table convention). One automaton walk per row:
  * O(len + matches) regardless of how many thousand patterns the list
  * holds — the scale answer to the per-pattern `regexp_count` chain,
  * whose cost is O(len × patterns) and whose alternation regex blows up
  * at real blocklist sizes. Matches are ALL start positions (substring
  * semantics, overlapping occurrences each counted — the automaton's
  * dictionary-suffix links surface every pattern ending at every
  * position). Output: total hit count, distinct patterns present, and
  * the flagged verdict. Text and patterns walk as UTF-16 code units —
  * consistent on both sides, exact for any pattern that round-trips
  * UTF-16 (all of Unicode). */
case class AcScreen(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  require(patterns.nonEmpty, "pattern list must be non-empty")
  require(patterns.forall(_.nonEmpty), "patterns must be non-empty strings")
  require(patterns.distinct.length == patterns.length,
    "patterns must be distinct")

  override def dataType: DataType = AcScreen.OutType
  override def prettyName: String = "ac_screen"

  // ------------------------------------------------------- the automaton
  // goto as per-node HashMap (bounded alphabet windows aren't assumed),
  // BFS fail links, and output links (nearest terminal on the fail
  // chain) so match reporting is O(matches), not O(len × depth).
  @transient private lazy val (gotoMaps, fail, outLink, termPattern) = {
    type M = java.util.HashMap[Character, Integer]
    val gotos = scala.collection.mutable.ArrayBuffer(new M())
    val term = scala.collection.mutable.ArrayBuffer(-1)
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var node = 0
      p.foreach { ch =>
        val m = gotos(node)
        val existing = m.get(Character.valueOf(ch))
        node =
          if (existing != null) existing.intValue()
          else {
            gotos += new M()
            term += -1
            val n = gotos.size - 1
            m.put(Character.valueOf(ch), Integer.valueOf(n))
            n
          }
      }
      term(node) = pi
    }
    val n = gotos.size
    val failArr = new Array[Int](n)
    val outArr = new Array[Int](n)
    java.util.Arrays.fill(outArr, -1)
    val queue = new java.util.ArrayDeque[Integer]()
    gotos(0).forEach { (_, child) =>
      failArr(child.intValue()) = 0; queue.add(child); ()
    }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      outArr(u) = if (term(failArr(u)) >= 0) failArr(u) else outArr(failArr(u))
      gotos(u).forEach { (ch, vBox) =>
        val v = vBox.intValue()
        var f = failArr(u)
        while (f != 0 && !gotos(f).containsKey(ch)) f = failArr(f)
        val hit = gotos(f).get(ch)
        failArr(v) = if (hit != null && hit.intValue() != v) hit.intValue() else 0
        queue.add(vBox)
        ()
      }
    }
    (gotos.toArray, failArr, outArr, term.toArray)
  }

  /** Every (start, length) substring match in the text, in match-end
    * order — the raw match stream [[AcRedact]] resolves greedily. */
  def allMatches(text: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var node = 0
    var i = 0
    while (i < text.length) {
      val ch = Character.valueOf(text.charAt(i))
      while (node != 0 && !gotoMaps(node).containsKey(ch)) node = fail(node)
      val nxt = gotoMaps(node).get(ch)
      node = if (nxt != null) nxt.intValue() else 0
      var t = if (termPattern(node) >= 0) node else outLink(node)
      while (t >= 0) {
        val len = patterns(termPattern(t)).length
        out += ((i - len + 1, len))
        t = outLink(t)
      }
      i += 1
    }
    out.toSeq
  }

  def screen(textU: UTF8String): InternalRow = {
    val text = textU.toString
    val perPattern = new Array[Long](patterns.length)
    var node = 0
    var i = 0
    while (i < text.length) {
      val ch = Character.valueOf(text.charAt(i))
      while (node != 0 && !gotoMaps(node).containsKey(ch)) node = fail(node)
      val nxt = gotoMaps(node).get(ch)
      node = if (nxt != null) nxt.intValue() else 0
      // report every pattern ending here via the output-link chain
      var t = if (termPattern(node) >= 0) node else outLink(node)
      while (t >= 0) {
        perPattern(termPattern(t)) += 1L
        t = outLink(t)
      }
      i += 1
    }
    var hits = 0L
    var present = 0L
    var k = 0
    while (k < perPattern.length) {
      hits += perPattern(k)
      if (perPattern(k) > 0) present += 1
      k += 1
    }
    new GenericInternalRow(Array[Any](hits, present, hits > 0))
  }

  override def nullSafeEval(text: Any): Any =
    screen(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("acScreen", this,
        classOf[AcScreen].getName)
      s"${ev.value} = $ref.screen($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AcScreen {
  val OutType: StructType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("n_patterns", LongType, nullable = false),
    StructField("flagged", BooleanType, nullable = false)))
}

/** Redaction face of [[AcScreen]] — the same frozen-list automaton, but
  * matched spans are REPLACED: greedy leftmost-longest non-overlapping
  * resolution (the FlashText rule: scan left to right, at each position
  * consume the longest match starting there; overlapped shorter/later
  * matches are subsumed), each chosen span replaced by `marker`. Output
  * carries the span count, characters removed, and the redacted text's
  * polynomial fingerprint ([[PolyHash]] convention; `keepText` upstream
  * decides whether the string itself survives). */
case class AcRedact(child: Expression, patterns: Seq[String], marker: String)
    extends UnaryExpression {

  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty strings")
  require(patterns.distinct.length == patterns.length,
    "patterns must be distinct")

  override def dataType: DataType = AcRedact.OutType
  override def prettyName: String = "ac_redact"

  @transient private lazy val screener = AcScreen(child, patterns)

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

  def redact(textU: UTF8String): InternalRow = {
    val text = textU.toString
    val matches = screener.allMatches(text) // (start, len), end-order
    // greedy leftmost-longest: sort (start asc, len desc), sweep a cursor
    val sorted = matches.sortBy { case (s, l) => (s, -l) }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var cursor = 0
    sorted.foreach { case (s, l) =>
      if (s >= cursor) { chosen += ((s, l)); cursor = s + l }
    }
    val sb = new java.lang.StringBuilder
    var pos = 0
    chosen.foreach { case (s, l) =>
      sb.append(text, pos, s).append(marker)
      pos = s + l
    }
    sb.append(text, pos, text.length)
    val red = sb.toString
    new GenericInternalRow(Array[Any](
      chosen.size.toLong,
      chosen.map(_._2.toLong).sum,
      polyHash(red),
      UTF8String.fromString(red)))
  }

  override def nullSafeEval(text: Any): Any =
    redact(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val ref = ctx.addReferenceObj("acRedact", this,
        classOf[AcRedact].getName)
      s"${ev.value} = $ref.redact($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AcRedact {
  val OutType: StructType = StructType(Seq(
    StructField("n_redacted", LongType, nullable = false),
    StructField("n_chars_removed", LongType, nullable = false),
    StructField("redacted_fp", LongType, nullable = false),
    StructField("redacted_text",
      org.apache.spark.sql.types.StringType, nullable = false)))
}

object AcExpressions {
  val FnName = "ac_screen"

  /** Compiled blocklist-screen column (see [[AcScreen]]). */
  def acScreen(text: Column, patterns: Seq[String]): Column = {
    val f = org.apache.spark.sql.functions
    call_function(FnName, text,
      f.array(patterns.map(f.lit(_)).toIndexedSeq: _*))
  }

  val RedactFnName = "ac_redact"

  /** Compiled blocklist-redaction column (see [[AcRedact]]). */
  def acRedact(text: Column, patterns: Seq[String],
      marker: String): Column = {
    val f = org.apache.spark.sql.functions
    call_function(RedactFnName, text,
      f.array(patterns.map(f.lit(_)).toIndexedSeq: _*), f.lit(marker))
  }
}
