package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Row-local affine projection `y = W·(x − μ)` of a float embedding —
  * the apply half of a fitted linear transform (ZCA whitening, PCA, any
  * learned rotation): `w` is the k×dim matrix row-major, `μ` the center,
  * both baked as plan-time constants (the [[BpeEncode]] frozen-table
  * convention — transforms are fitted once; re-fit ⇒ rebuild the
  * column). One imperative pass per row, O(k·dim) FMA in doubles,
  * outputs 1e-6-rounded doubles (the library's cross-engine convention —
  * though the matrix itself comes from a driver-side eigensolve, so
  * only determinism ACROSS RUNS of the same fit is claimed; see
  * [[graft.operators.WhitenOps]]). */
case class AffineProject(child: Expression, w: Array[Double],
    mu: Array[Double], k: Int, dim: Int) extends UnaryExpression {

  require(w.length == k * dim, s"w must be k*dim=${k * dim}, got ${w.length}")
  require(mu.length == dim, s"mu must be dim=$dim, got ${mu.length}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "affine_project"

  private def round6(x: Double): Double =
    if (x == 0.0) 0.0
    else JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  def project(arr: ArrayData): ArrayData = {
    val n = math.min(arr.numElements(), dim)
    val centered = new Array[Double](dim)
    var i = 0
    while (i < n) { centered(i) = arr.getFloat(i).toDouble - mu(i); i += 1 }
    while (i < dim) { centered(i) = -mu(i); i += 1 }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0
      val off = j * dim
      i = 0
      while (i < dim) { s += w(off + i) * centered(i); i += 1 }
      out(j) = round6(s)
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = project(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("affineProject", this,
        classOf[AffineProject].getName)
      s"${ev.value} = $ref.project($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AffineExpressions {
  val FnName = "affine_project"

  /** Compiled affine-projection column (see [[AffineProject]]). */
  def affineProject(vec: Column, w: Array[Double], mu: Array[Double],
      k: Int, dim: Int): Column = {
    val f = org.apache.spark.sql.functions
    call_function(FnName, vec,
      f.array(w.map(f.lit(_)).toIndexedSeq: _*),
      f.array(mu.map(f.lit(_)).toIndexedSeq: _*),
      f.lit(k), f.lit(dim))
  }
}
