package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native DEFLATE compression-ratio expression — the Gopher/MassiveText
  * "compression filter" quality signal (Rae et al. 2021 §A1.1.4 use the
  * compressed/raw size as a repetition-and-templating detector:
  * machine-generated or heavily repetitive text compresses far below the
  * natural-language band, white-noise gibberish barely compresses at
  * all). The signal subsumes many hand-written repetition rules with one
  * number and costs one pass over the bytes.
  *
  * Implementation: `java.util.zip.Deflater` (level 6, the zlib default)
  * over the UTF-8 bytes, ratio = deflated_len / raw_len rounded to 6.
  * Runs as a tight codegen'd kernel via a static helper (no boxing, no
  * lambda dispatch); the Deflater is allocated per call — level-6 stream
  * state is small, and `reset()`-pooling measured no win at doc sizes.
  * Empty input yields NULL (a 0-byte doc has no meaningful ratio).
  *
  * No SQL oracle exists for DEFLATE output (DuckDB exposes no
  * compression UDF), so the registered query is rows-only; the spec pins
  * monotonicity fixtures (repetitive < natural < high-entropy) and exact
  * values against a plain-Scala reference using the same JDK Deflater.
  */
case class DeflateRatio(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "deflate_ratio"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got " +
          child.dataType.catalogString)

  override def nullSafeEval(input: Any): Any = {
    val r = CompressKernel.ratio(input.asInstanceOf[UTF8String].getBytes)
    if (r.isNaN) null else r
  }

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val r = ctx.freshName("r")
      s"""
         |double $r = graft.functions.CompressKernel.ratio($input.getBytes());
         |if (java.lang.Double.isNaN($r)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static DEFLATE kernel shared by interpreted eval and generated code. */
object CompressKernel {
  /** deflated_bytes / raw_bytes at zlib level 6, round-6; NaN on empty
    * input (mapped to NULL by the expression). */
  def ratio(bytes: Array[Byte]): Double = {
    if (bytes.isEmpty) return Double.NaN
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](256)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      val r = out.toDouble / bytes.length
      java.math.BigDecimal.valueOf(r)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    } finally d.end()
  }
}

object CompressExpressions {
  val FnName = "deflate_ratio"

  /** Codegen'd DEFLATE compression ratio of a string column. */
  def deflateRatio(c: Column): Column = call_function(FnName, c)
}
