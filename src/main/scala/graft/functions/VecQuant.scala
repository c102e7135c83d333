package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native vector quantizer: an `array<float>` / `array<double>` embedding
  * onto the exact integer grid of [[graft.ops.Similarity.SCALE]] in one
  * tight loop over the unboxed `ArrayData`.
  *
  * Value-identical to the built-in composition
  * `transform(emb, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))`
  * (the oracle VecQuantSpec compares against): null elements stay null, a
  * NaN, ±Inf or out-of-range product raises the same `CAST_OVERFLOW`
  * under ANSI and saturates like the cast without it. The composition is
  * an interpreted lambda that Catalyst cannot share between uses; this is
  * a plain expression, so subexpression elimination evaluates each
  * vector's quantization once per projection.
  *
  * `ansi` is the session's ANSI mode when the expression is built, as the
  * composition's cast captures it.
  */
case class VecQuant(child: Expression, ansi: Boolean) extends UnaryExpression {

  override def nullIntolerant: Boolean = true

  // elements nullable whatever the input, as the composition's `round`
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<float> or array<double> input, got ${other.catalogString}")
  }

  private def floats: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    VecQuant.quantizeArray(v.asInstanceOf[ArrayData], floats, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecQuant.quantizeArray($c, $floats, $ansi)")

  override protected def withNewChildInternal(newChild: Expression): VecQuant =
    copy(child = newChild)

  override def prettyName: String = "vec_quant"
}

object VecQuant {
  // Similarity.SCALE as the double the composition multiplies by
  private val Scale = 1000000.0
  private val TwoPow52 = 4503599627370496.0

  /** Spark's `round(d, 0)` on a double (`BigDecimal.valueOf(d)
    * .setScale(0, HALF_UP)`) without the decimal detour. Below 2^52 every
    * k + 0.5 is a double and `Double.toString(d)` parses back to `d`, so
    * that decimal lies on the same side of every k + 0.5 as `d` and equals
    * one only when `d` does: rounding `d` itself half up gives the same
    * integer (`a - floor(a)` is exact there). From 2^52 up every double is
    * an integer and rounds to itself.
    */
  private def roundHalfUp(d: Double): Double = {
    val a = math.abs(d)
    if (!(a < TwoPow52)) d // NaN, ±Inf and integers pass through
    else {
      val f = math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      if (d < 0) -r else r
    }
  }

  /** `CAST(r AS BIGINT)` on a rounded double: the ANSI range check of
    * Spark's `DoubleExactNumeric.toLong`, or the saturating JVM
    * conversion without ANSI.
    */
  private def toLong(r: Double, ansi: Boolean): Long =
    if (!ansi || (math.floor(r) <= Long.MaxValue.toDouble &&
        math.ceil(r) >= Long.MinValue.toDouble)) r.toLong
    else throw org.apache.spark.sql.graftbridge.Errors.castOverflow(r)

  private def quantize(x: Double, ansi: Boolean): Long =
    toLong(roundHalfUp(x * Scale), ansi)

  /** Static kernel for both interpreted and generated code paths. */
  def quantizeArray(a: ArrayData, floats: Boolean, ansi: Boolean): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i)
      else out.setLong(i, quantize(
        if (floats) a.getFloat(i).toDouble else a.getDouble(i), ansi))
      i += 1
    }
    out
  }

  def apply(emb: Column): Column =
    ColumnBridge.column(
      VecQuant(ColumnBridge.expression(emb), SQLConf.get.ansiEnabled))
}
