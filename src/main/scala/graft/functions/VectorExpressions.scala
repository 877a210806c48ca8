package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for the embedding dot product.
  *
  * The composable `aggregate(zip_with(...))` formulation is semantically
  * identical but runs as an interpreted HigherOrderFunction — per-element
  * lambda dispatch plus an intermediate array per row. This expression
  * participates in whole-stage codegen: the generated Java is a tight
  * primitive loop over the two float arrays (no allocation, no virtual
  * calls), which matters when a similarity join evaluates it millions of
  * times. Accumulation order is the same sequential left-to-right sum as
  * the DuckDB oracle fragment ([[TextHash.dotSql]]), so results are
  * bit-identical across engines.
  *
  * PRECONDITION: array elements are non-null (embedding columns are dense
  * float vectors). A null element would read as an undefined value here
  * while the SQL fragment propagates NULL — enforce density upstream.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Int8 scalar quantization (SQ8) of a dense float vector against per-
  * dimension corpus `mins`/`scales` (both `array<double>`, broadcast as
  * 1-row stats): `code_i = clamp(round((x_i - min_i) / scale_i), 0, 255)`,
  * or 0 where `scale_i = 0` (a constant dimension). This is the embedding
  * memory-footprint scale path — 4 bytes/dim → 1, so a 100 TB float corpus
  * indexes in 25 TB with recall measured, not hoped (SQ8Spec pins it).
  *
  * Determinism across engines: `(x-min)/scale` is non-negative (min is the
  * corpus min), and for non-negative arguments JVM `Math.round` (floor of
  * x+0.5) and DuckDB `round` (half away from zero) agree on every double,
  * so codes are bit-identical to the oracle's. Codes are `array<int>`
  * rather than packed bytes for oracle comparability; a production sink
  * would pack 4:1 (the compaction layer's job, not the operator's).
  *
  * PRECONDITION (shared with [[FloatVectorDot]]): arrays are dense and
  * non-null; `mins`/`scales` are at least as long as the vector.
  */
case class SQ8Encode(vec: Expression, mins: Expression, scales: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = mins
  override def third: Expression = scales
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sq8_encode"

  override def nullSafeEval(v: Any, mn: Any, sc: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val m = mn.asInstanceOf[ArrayData]
    val s = sc.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val scale = s.getDouble(i)
      out(i) =
        if (scale > 0)
          math.min(255L, math.max(0L,
            Math.round((x.getFloat(i).toDouble - m.getDouble(i)) / scale))).toInt
        else 0
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, mn, sc) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val scale = ctx.freshName("scale")
      s"""
         |int $n = $v.numElements();
         |int[] $out = new int[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $scale = $sc.getDouble($i);
         |  $out[$i] = $scale > 0
         |    ? (int) java.lang.Math.min(255L, java.lang.Math.max(0L,
         |        java.lang.Math.round((((double) $v.getFloat($i)) - $mn.getDouble($i)) / $scale)))
         |    : 0;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, mins = newSecond, scales = newThird)
}

/** Dot product of two SQ8-RECONSTRUCTED vectors, fused: sums
  * `(min_i + a_i*scale_i) * (min_i + b_i*scale_i)` left-to-right without
  * materializing the reconstructed arrays — the quantized analog of
  * [[FloatVectorDot]], same sequential accumulation as the oracle's
  * `list_reduce` fold, so similarity scores are bit-identical across
  * engines. Reconstruction where `scale_i = 0` degenerates to `min_i`
  * (codes are 0 there by [[SQ8Encode]]), so no guard is needed. */
case class SQ8ReconDot(a: Expression, b: Expression, mins: Expression,
    scales: Expression) extends QuaternaryExpression {

  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = mins
  override def fourth: Expression = scales
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_recon_dot"

  override def nullSafeEval(av: Any, bv: Any, mn: Any, sc: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val m = mn.asInstanceOf[ArrayData]
    val s = sc.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val mi = m.getDouble(i)
      val si = s.getDouble(i)
      acc += (mi + x.getInt(i) * si) * (mi + y.getInt(i) * si)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv, mn, sc) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val mi = ctx.freshName("mi")
      val si = ctx.freshName("si")
      s"""
         |int $n = java.lang.Math.min($av.numElements(), $bv.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $mi = $mn.getDouble($i);
         |  double $si = $sc.getDouble($i);
         |  $acc += ($mi + $av.getInt($i) * $si) * ($mi + $bv.getInt($i) * $si);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(a = newFirst, b = newSecond, mins = newThird, scales = newFourth)
}

/** Largest absolute per-component reconstruction error of an SQ8 code
  * vector against its source floats: `max_i |x_i - (min_i + c_i*scale_i)|`.
  * Max is order-independent, so this digest is engine-reproducible without
  * rounding tricks; it is the registered quantization-quality gate (error
  * must stay ≤ scale/2 per dimension — SQ8Spec pins the bound, the q92
  * oracle pins the values). */
case class SQ8MaxAbsErr(vec: Expression, codes: Expression, mins: Expression,
    scales: Expression) extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = codes
  override def third: Expression = mins
  override def fourth: Expression = scales
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_max_abs_err"

  override def nullSafeEval(v: Any, cd: Any, mn: Any, sc: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val c = cd.asInstanceOf[ArrayData]
    val m = mn.asInstanceOf[ArrayData]
    val s = sc.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), c.numElements())
    var best = 0.0
    var i = 0
    while (i < n) {
      val d = math.abs(
        x.getFloat(i).toDouble - (m.getDouble(i) + c.getInt(i) * s.getDouble(i)))
      if (d > best) best = d
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cd, mn, sc) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $cd.numElements());
         |double $best = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = java.lang.Math.abs(((double) $v.getFloat($i))
         |    - ($mn.getDouble($i) + $cd.getInt($i) * $sc.getDouble($i)));
         |  if ($d > $best) $best = $d;
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(vec = newFirst, codes = newSecond, mins = newThird, scales = newFourth)
}

/** Asymmetric PQ distance of a float query against a product-quantized
  * corpus vector's RECONSTRUCTION (`array<double>`): squared L2, summed as
  * per-subspace partials of width `sub` — `Σ_s Σ_c (q_i - r_i)²` with the
  * inner sum completed before the outer accumulates. The grouping is the
  * contract: a lookup-table ADC implementation (per-query LUT of `m·k`
  * precomputed subspace partials, O(m) gathers per candidate instead of
  * O(dim) arithmetic — the production fast path at 100 TB) produces
  * BIT-IDENTICAL distances under this grouping, so swapping it in cannot
  * move a ranking. The oracle mirrors the same nested fold. */
case class PQAdcDist(query: Expression, recon: Expression, sub: Int)
    extends BinaryExpression {

  require(sub > 0, s"subspace width must be positive, got $sub")
  override def left: Expression = query
  override def right: Expression = recon
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dist"

  override def nullSafeEval(q: Any, r: Any): Any = {
    val x = q.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var s0 = 0
    while (s0 < n) {
      val end = math.min(s0 + sub, n)
      var part = 0.0
      var i = s0
      while (i < end) {
        val d = x.getFloat(i).toDouble - y.getDouble(i)
        part += d * d
        i += 1
      }
      acc += part
      s0 = end
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, r) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val part = ctx.freshName("part")
      val s0 = ctx.freshName("s0")
      val end = ctx.freshName("end")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($q.numElements(), $r.numElements());
         |double $acc = 0.0;
         |for (int $s0 = 0; $s0 < $n; ) {
         |  int $end = java.lang.Math.min($s0 + $sub, $n);
         |  double $part = 0.0;
         |  for (int $i = $s0; $i < $end; $i++) {
         |    double $d = ((double) $q.getFloat($i)) - $r.getDouble($i);
         |    $part += $d * $d;
         |  }
         |  $acc += $part;
         |  $s0 = $end;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(query = newLeft, recon = newRight)
}

/** Pack SQ8/PQ codes (`array<int>`, every element 0..255) into a
  * `binary` of one byte per code — the SINK form of a quantized index:
  * the operators keep `array<int>` for oracle comparability, the lake
  * stores bytes (the 4:1 that makes a 100 TB float corpus a 25 TB SQ8 /
  * 3 TB PQ index ON DISK, not just in arithmetic). Lossless for
  * in-contract codes; out-of-range values are masked to their low byte —
  * enforce the 0..255 contract upstream ([[SQ8Encode]] clamps, PQ
  * codebooks are ≤ 256 entries). */
case class CodesPack(codes: Expression) extends UnaryExpression {

  override def child: Expression = codes
  override def dataType: DataType = BinaryType
  override def prettyName: String = "codes_pack"

  override def nullSafeEval(c: Any): Any = {
    val a = c.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (a.getInt(i) & 0xff).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int $n = $c.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) ($c.getInt($i) & 0xff);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(codes = newChild)
}

/** Inverse of [[CodesPack]]: one unsigned byte per code back to
  * `array<int>` — the LOAD form; `unpack(pack(codes)) = codes` for
  * in-contract inputs (spec-pinned round trip). */
case class CodesUnpack(bin: Expression) extends UnaryExpression {

  override def child: Expression = bin
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "codes_unpack"

  override def nullSafeEval(b: Any): Any = {
    val a = b.asInstanceOf[Array[Byte]]
    val out = new Array[Int](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) & 0xff; i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int[] $out = new int[$b.length];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $out[$i] = $b[$i] & 0xff;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(bin = newChild)
}

/** The LUT fast path of [[PQAdcDist]]: the per-query lookup table `lut`
  * holds the precomputed subspace partial `‖q_s − c_{j,s}‖²` at index
  * `j·m + s` (entry-major), and the distance to a coded candidate is
  * `Σ_s lut[codes[s]·m + s]` — m array gathers per candidate instead of
  * O(dim) arithmetic, the shape that matters when one query scans 10⁹
  * coded rows. Accumulation is in subspace order over partials that are
  * bit-identical to [[PQAdcDist]]'s inner sums, so the two expressions
  * return THE SAME DOUBLE for every (query, candidate) — asserted
  * exactly in PQSpec, which is what makes the swap safe at any scale. */
case class PQLutDist(lut: Expression, codes: Expression, m: Int)
    extends BinaryExpression {

  require(m > 0, s"subspace count must be positive, got $m")
  override def left: Expression = lut
  override def right: Expression = codes
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_lut_dist"

  override def nullSafeEval(l: Any, c: Any): Any = {
    val t = l.asInstanceOf[ArrayData]
    val cd = c.asInstanceOf[ArrayData]
    val n = math.min(m, cd.numElements())
    var acc = 0.0
    var s = 0
    while (s < n) {
      acc += t.getDouble(cd.getInt(s) * m + s)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($m, $c.numElements());
         |double $acc = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $acc += $l.getDouble($c.getInt($s) * $m + $s);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lut = newLeft, codes = newRight)
}

/** Dot product of two PQ-RECONSTRUCTED vectors in O(m), without ever
  * materializing either reconstruction: `Σ_s table[(a_s·k + b_s)·m + s]`,
  * where `table` is the precomputed m·k·k SUBSPACE-DOT table of the
  * codebook (`table[(i·k+j)·m+s] = Σ_c cb_i[s·sub+c] · cb_j[s·sub+c]`,
  * entry-pair-major — [[graft.operators.PQOps.pqCodeDotTable]]). This is
  * the code-space screen's workhorse: comparing two coded corpus vectors
  * costs m array gathers against an 8-byte-per-side index, the shape that
  * lets a semantic near-dup screen over 10⁹ vectors hold its entire
  * static side in memory. Subspace partials are accumulated in the same
  * fixed c-then-s order as [[PQAdcDist]]'s groups, so the value is
  * bit-identical to the dot of the two reconstruction arrays computed
  * subspace-grouped — which is how the DuckDB oracle replays it.
  *
  * PRECONDITION (holds for both codebook sources, validated by the table
  * builder): codebook entry ids are exactly 0..k−1 — the table is indexed
  * by raw code pairs. */
case class PQCodeDot(table: Expression, a: Expression, b: Expression,
    m: Int, k: Int) extends TernaryExpression {

  require(m > 0 && k > 0, s"need positive m/k, got $m/$k")
  override def first: Expression = table
  override def second: Expression = a
  override def third: Expression = b
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_code_dot"

  override def nullSafeEval(t: Any, av: Any, bv: Any): Any = {
    val tb = t.asInstanceOf[ArrayData]
    val ca = av.asInstanceOf[ArrayData]
    val cb = bv.asInstanceOf[ArrayData]
    val n = math.min(m, math.min(ca.numElements(), cb.numElements()))
    var acc = 0.0
    var s = 0
    while (s < n) {
      acc += tb.getDouble((ca.getInt(s) * k + cb.getInt(s)) * m + s)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, ca, cb) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($m,
         |  java.lang.Math.min($ca.numElements(), $cb.numElements()));
         |double $acc = 0.0;
         |for (int $s = 0; $s < $n; $s++) {
         |  $acc += $t.getDouble(($ca.getInt($s) * $k + $cb.getInt($s)) * $m + $s);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(table = newFirst, a = newSecond, b = newThird)
}

/** Whole-vector PQ encode against a FROZEN codebook in ONE compiled pass —
  * `struct(codes: array<int>, recon: array<double>)`.
  *
  * r19 (guide §1.2 step 2 / r18 verdict item 5): the expression-tree
  * formulation this replaces ([[graft.operators.PQOps.pqEncodeExprs]]'s
  * per-subspace `least(struct(dist, cid)...)` over k entries × sub
  * components) builds thousands of Catalyst nodes per encode — too large
  * for whole-stage codegen, so it ran interpreted, allocating a struct
  * per (row, entry, subspace) (QPlan: the PQ band's encode stage carried
  * ~4 s of GC at sf0.1). This compiled loop is value-identical:
  *  - same fixed-order squared-L2 per entry (ascending component index,
  *    float→double casts on both sides);
  *  - same argmin tie-break (smaller distance, then smaller entry id —
  *    `java.lang.Double.compare` mirrors Spark's double struct ordering,
  *    NaN greatest);
  *  - same degenerate rule: a subspace whose components are missing or
  *    null scored NULL for every entry, and `least` then fell through to
  *    the id field — the minimum-id entry wins — and the reconstruction
  *    still slices that winner's components (the map-literal lookup never
  *    saw the vector).
  * PQSpec pins exact equality against the relational window-argmin form,
  * so the q94-q109 oracles that replay that form in SQL gate this kernel.
  * The codebook rides the expression as Seq fields (value equality keeps
  * canonicalization and subexpression elimination working); hot-path
  * primitive views are transient lazies. */
case class PqEncode(vec: Expression, m: Int, sub: Int,
    cids: Seq[Int], flat: Seq[Double]) extends UnaryExpression {

  require(m > 0 && sub > 0, s"need positive m/sub, got $m/$sub")
  require(cids.nonEmpty && flat.size == cids.size * m * sub,
    s"codebook shape: ${cids.size} ids, ${flat.size} components, " +
      s"need ids * $m * $sub")

  override def child: Expression = vec
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("codes",
      ArrayType(IntegerType, containsNull = false)),
    org.apache.spark.sql.types.StructField("recon",
      ArrayType(DoubleType, containsNull = false))))

  @transient private lazy val k = cids.size
  @transient private lazy val width = m * sub
  @transient private lazy val cidArr: Array[Int] = cids.toArray
  @transient private lazy val ent: Array[Double] = flat.toArray
  @transient private lazy val minIdx: Int =
    (0 until k).minBy(cidArr(_))

  def encodeArray(v0: Any): Any = {
    val v = v0.asInstanceOf[ArrayData]
    val len = v.numElements()
    val codes = new Array[Int](m)
    val recon = new Array[Double](width)
    var s = 0
    while (s < m) {
      val base = s * sub
      var degenerate = base + sub > len
      if (!degenerate) {
        var c = 0
        while (c < sub) {
          if (v.isNullAt(base + c)) { degenerate = true; c = sub }
          else c += 1
        }
      }
      var bestIdx = minIdx
      if (!degenerate) {
        var best = 0.0
        var bestCid = 0
        var first = true
        var e = 0
        while (e < k) {
          var dist = 0.0
          val off = e * width + base
          var c = 0
          while (c < sub) {
            val d = v.getFloat(base + c).toDouble - ent(off + c)
            dist += d * d
            c += 1
          }
          val cid = cidArr(e)
          val cmp = if (first) -1 else java.lang.Double.compare(dist, best)
          if (cmp < 0 || (cmp == 0 && cid < bestCid)) {
            best = dist; bestCid = cid; bestIdx = e; first = false
          }
          e += 1
        }
      }
      codes(s) = cidArr(bestIdx)
      val roff = bestIdx * width + base
      var c = 0
      while (c < sub) { recon(base + c) = ent(roff + c); c += 1 }
      s += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new GenericArrayData(codes), new GenericArrayData(recon))
  }

  override def nullSafeEval(v: Any): Any = encodeArray(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEnc", this,
      classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
         |  $ref.encodeArray($v);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(vec = newChild)
}

object VectorExpressions {
  val FnName = "float_vector_dot"

  val SQ8EncodeFn = "sq8_encode"
  val SQ8DotFn = "sq8_recon_dot"
  val SQ8ErrFn = "sq8_max_abs_err"
  val PQDistFn = "pq_adc_dist"
  val PQLutFn = "pq_lut_dist"
  val PackFn = "codes_pack"
  val UnpackFn = "codes_unpack"
  val PQCodeDotFn = "pq_code_dot"
  val PqEncodeFn = "graft_pq_encode"

  /** Codegen'd dot product of two `array<float>` columns (see class doc). */
  def floatDot(a: Column, b: Column): Column = call_function(FnName, a, b)

  /** SQ8 code vector of a float embedding (see [[SQ8Encode]]). */
  def sq8Encode(vec: Column, mins: Column, scales: Column): Column =
    call_function(SQ8EncodeFn, vec, mins, scales)

  /** Fused dot product over SQ8-reconstructed vectors ([[SQ8ReconDot]]). */
  def sq8ReconDot(a: Column, b: Column, mins: Column, scales: Column): Column =
    call_function(SQ8DotFn, a, b, mins, scales)

  /** Max absolute SQ8 reconstruction error ([[SQ8MaxAbsErr]]). */
  def sq8MaxAbsErr(vec: Column, codes: Column, mins: Column,
      scales: Column): Column =
    call_function(SQ8ErrFn, vec, codes, mins, scales)

  /** Asymmetric PQ distance, subspace-grouped ([[PQAdcDist]]). */
  def pqAdcDist(query: Column, recon: Column, sub: Int): Column =
    call_function(PQDistFn, query, recon,
      org.apache.spark.sql.functions.lit(sub))

  /** LUT-gather PQ distance ([[PQLutDist]]); bit-identical to
    * [[pqAdcDist]] for a LUT built from the same codebook. */
  def pqLutDist(lut: Column, codes: Column, m: Int): Column =
    call_function(PQLutFn, lut, codes,
      org.apache.spark.sql.functions.lit(m))

  /** One byte per code: the sink form of a quantized index
    * ([[CodesPack]]). */
  def codesPack(codes: Column): Column = call_function(PackFn, codes)

  /** Unsigned-byte load of a packed code column ([[CodesUnpack]]). */
  def codesUnpack(bin: Column): Column = call_function(UnpackFn, bin)

  /** O(m) dot of two PQ-coded vectors via the precomputed subspace-dot
    * table ([[PQCodeDot]]). */
  def pqCodeDot(table: Column, a: Column, b: Column, m: Int, k: Int): Column =
    call_function(PQCodeDotFn, table, a, b,
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k))

  /** Compiled whole-vector PQ encode ([[PqEncode]]): codes + glued
    * reconstruction as one struct column. `flat` is the codebook's first
    * m·sub components per entry, entry-major, in `cids` order. */
  def pqEncode(vec: Column, m: Int, sub: Int, cids: Seq[Int],
      flat: Seq[Double]): Column =
    call_function(PqEncodeFn, vec, lit(m), lit(sub),
      typedLit(cids), typedLit(flat))
}
