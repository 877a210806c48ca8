package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial rolling string hash
  * (fold (acc*31 + codepoint) mod P over code points — the same definition
  * as [[TextHash.polyHash]] / [[TextHash.polyHashSql]]).
  *
  * The composable formulation (`aggregate(transform(split(s, "")...))`)
  * allocates a per-character string array and dispatches a lambda per
  * character; this expression is a tight codegen'd loop — ~40× less work per
  * value, which dominates the minhash/simhash/fingerprint pipelines. Code
  * points (not UTF-16 units) keep it identical to DuckDB's `unicode(c)` for
  * all of Unicode. */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % TextHash.P
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $input.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % ${TextHash.P}L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All word-`w`-gram shingle hashes of a space-tokenized text in ONE pass —
  * `poly_hash(concat_ws(" ", slice(split(text, " "), i, w)))` for every
  * position `i`, WITHOUT building a shingle string per position.
  *
  * Key identity: `split(text, " ")` on the single-space regex is lossless
  * (`words.mkString(" ") == text`, empties included), so every shingle is
  * the EXACT substring of `text` between its first word's start and its
  * last word's end — its hash folds directly over that char range. The
  * composable form allocates a sliced array + a joined string + a
  * UTF8String per position (O(n·w) bytes of garbage per doc); this is a
  * zero-allocation scan, and it feeds every shingle consumer (minhash/LSH,
  * jaccard, containment×3, contamination, dup-ngram coverage).
  * Output identical by construction and pinned by a PropertySpec parity
  * test over adversarial texts (multi-space, trailing space, unicode). */
case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    HashExpressions.shingleHashArray(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.HashExpressions.shingleHashArray($input, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass per-position word k-gram (hash, char length) pairs — the
  * [[ShingleHashes]] kernel widened for DROP-DECIDING consumers
  * ([[graft.operators.SpanDedupOps]]'s gram table, r14 verdict item 8):
  * gram identity downstream is the (h, glen) composite, and computing
  * the pair compositionally (`transform` + `concat_ws` + polyHash +
  * `length`) materializes every gram STRING twice per position —
  * measured +45–60% on q151/q152 when the length leg landed that way.
  * Here neither evaluation allocates: the hash folds over the char
  * range and the code-point count rides the same walk.
  *
  * Contract difference from [[ShingleHashes]]: texts with fewer than
  * `w` words emit an EMPTY array (the gram-table semantics — a short
  * doc has no k-gram) rather than one truncated shingle. */
case class GramHashLens(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("glen", LongType,
        nullable = false))),
    containsNull = false)
  override def prettyName: String = "gram_hash_lens"

  override def nullSafeEval(input: Any): Any =
    HashExpressions.gramHashLenArray(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.HashExpressions.gramHashLenArray($input, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `|A ∩ B|` of two SORTED long arrays by a zero-allocation merge walk.
  *
  * `size(array_intersect(a, b))` is semantically identical on
  * duplicate-free inputs, but Spark's ArrayIntersect materializes a hash
  * set AND an output array per evaluation — when a containment/jaccard
  * verify runs it millions of times over ~kB shingle arrays, that is
  * gigabytes of transient garbage whose collection pauses are the
  * dominant source of rep-to-rep variance (the q70 26.9 s outlier class).
  * This walk allocates nothing and stays inside whole-stage codegen.
  *
  * PRECONDITION: both arrays ascending with non-null elements (the shape
  * `sort_array(collect_list(h))` over distinct hashes produces — strictly
  * increasing). On inputs WITH duplicates the walk counts multiset
  * intersection size, which differs from array_intersect's distinct
  * semantics — keep inputs distinct. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashExpressions.sortedIntersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashExpressions.sortedIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All four coordinated bottom-k sample statistics of two SORTED sketch
  * arrays in ONE merge walk — `(n_sample, n_both, n_va, n_vb)` where V is
  * the k smallest of A ∪ B, `n_sample = |V|`, `n_both = |V ∩ A ∩ B|`,
  * `n_va = |V ∩ A|`, `n_vb = |V ∩ B|`.
  *
  * The composable form (`array_union` + `array_sort` + `slice` + three
  * `array_intersect`s) allocates ~10 intermediate arrays per evaluation;
  * over the millions of candidate pairs a sketch self-join yields, that
  * made the coordinated estimator slower than the full-postings probe it
  * exists to avoid (measured 70 s at sf0.1 before this expression). The
  * walk allocates one 4-field row. PRECONDITION: ascending, duplicate-free,
  * non-null elements (the `sort_array(collect_list)` bottom-k shape). */
case class CoordinatedSketchStats(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = CoordinatedSketchStats.OutType
  override def prettyName: String = "coordinated_sketch_stats"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashExpressions.coordinatedSketchStats(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HashExpressions.coordinatedSketchStats($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CoordinatedSketchStats {
  import org.apache.spark.sql.types.{LongType => L, StructField, StructType}
  val OutType: StructType = StructType(Seq(
    StructField("n_sample", L, nullable = false),
    StructField("n_both", L, nullable = false),
    StructField("n_va", L, nullable = false),
    StructField("n_vb", L, nullable = false)))
}

object HashExpressions {
  val FnName = "poly_hash"
  val ShingleFnName = "shingle_hashes"
  val IntersectFnName = "sorted_intersect_count"
  val GramLenFnName = "gram_hash_lens"
  val CoordFnName = "coordinated_sketch_stats"

  /** Codegen'd polynomial string hash (see [[PolyHash]]). */
  def polyHash(c: Column): Column = call_function(FnName, c)

  /** Codegen'd one-pass shingle hashing (see [[ShingleHashes]]). */
  def shingleHashes(text: Column, w: Int): Column =
    call_function(ShingleFnName, text, org.apache.spark.sql.functions.lit(w))

  /** Codegen'd one-pass k-gram (hash, char length) pairs (see
    * [[GramHashLens]]). */
  def gramHashLens(text: Column, w: Int): Column =
    call_function(GramLenFnName, text, org.apache.spark.sql.functions.lit(w))

  /** Codegen'd merge-walk `|A ∩ B|` over two ASCENDING long-array columns
    * (see [[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function(IntersectFnName, a, b)

  /** Codegen'd coordinated bottom-k sample stats over two ASCENDING
    * sketch-array columns (see [[CoordinatedSketchStats]]). */
  def coordinatedSketchStats(a: Column, b: Column, k: Int): Column =
    call_function(CoordFnName, a, b, org.apache.spark.sql.functions.lit(k))

  /** Shared kernel for [[CoordinatedSketchStats]] (called from generated
    * code): one merge walk over the two ascending sketch arrays, stopping
    * after the k smallest distinct union elements. */
  def coordinatedSketchStats(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData,
      k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    var both = 0L
    var va = 0L
    var vb = 0L
    // exhaustion is branched on the indices, not a sentinel VALUE: a
    // Long.MaxValue sentinel would treat a real MaxValue element in the
    // live array as "both exhausted-and-equal" and overcount n_both —
    // unreachable for mod-P shingle hashes, but the function is SQL-
    // registered for arbitrary long arrays
    while (n < k && (i < na || j < nb)) {
      if (i < na && j < nb) {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { both += 1L; va += 1L; vb += 1L; i += 1; j += 1 }
        else if (x < y) { va += 1L; i += 1 }
        else { vb += 1L; j += 1 }
      } else if (i < na) { va += 1L; i += 1 }
      else { vb += 1L; j += 1 }
      n += 1L
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, both, va, vb))
  }

  /** Shared kernel for [[SortedIntersectCount]] (called from generated
    * code): two-pointer walk over ascending arrays. */
  def sortedIntersectCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** Shared kernel for [[ShingleHashes]] (called from generated code):
    * word boundaries are the single-space positions (split-with-limit=-1
    * semantics — leading/trailing/consecutive spaces yield empty words,
    * exactly like `split(text, " ")`), and each shingle hash folds over
    * the char range from word `i` to word `min(i+w-1, n-1)`. */
  def shingleHashArray(u: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = u.toString
    val len = s.length
    // word start offsets: 0 and one past every space
    var nWords = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') nWords += 1; i += 1 }
    val start = new Array[Int](nWords + 1)
    start(0) = 0
    var k = 1
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { start(k) = i + 1; k += 1 }
      i += 1
    }
    start(nWords) = len + 1 // sentinel: "space" one past the end
    val nSh = math.max(nWords - (w - 1), 1)
    val out = new Array[Long](nSh)
    var p = 0
    while (p < nSh) {
      val last = math.min(p + w - 1, nWords - 1)
      val from = start(p)
      val to = start(last + 1) - 1 // exclusive: char before the next space
      var acc = 0L
      var j = from
      while (j < to) {
        val cp = s.codePointAt(j)
        acc = (acc * 31L + cp) % TextHash.P
        j += Character.charCount(cp)
      }
      out(p) = acc
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Shared kernel for [[GramHashLens]] (called from generated code):
    * same word-boundary walk as [[shingleHashArray]], but (a) texts with
    * fewer than `w` words emit an EMPTY array, and (b) each position
    * carries the gram's CODE-POINT length alongside its hash — both legs
    * computed in the one char scan, no gram string ever built. The
    * length equals `length(concat_ws(" ", slice(words, i, w)))` exactly
    * (separating spaces included). */
  def gramHashLenArray(u: UTF8String, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = u.toString
    val len = s.length
    var nWords = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') nWords += 1; i += 1 }
    if (nWords < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val start = new Array[Int](nWords + 1)
    start(0) = 0
    var k = 1
    i = 0
    while (i < len) {
      if (s.charAt(i) == ' ') { start(k) = i + 1; k += 1 }
      i += 1
    }
    start(nWords) = len + 1
    val nSh = nWords - (w - 1)
    val out = new Array[Any](nSh)
    var p = 0
    while (p < nSh) {
      val from = start(p)
      val to = start(p + w) - 1 // exclusive: char before the next space
      var acc = 0L
      var cps = 0L
      var j = from
      while (j < to) {
        val cp = s.codePointAt(j)
        acc = (acc * 31L + cp) % TextHash.P
        cps += 1L
        j += Character.charCount(cp)
      }
      out(p) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](acc, cps))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
