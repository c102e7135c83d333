package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document term counts: a string's single-space tokens as
  * distinct `(term, f)` pairs, `f` the token's occurrence count, in order
  * of first occurrence. Value-identical to grouping
  * `explode(split(text, ' '))` by token after dropping empty tokens
  * (consecutive, leading and trailing spaces): a null string is null, an
  * empty or all-space string an empty array.
  *
  * One call tokenizes a document once and emits partial counts, so a
  * shuffle after `inline(TermCounts(text))` carries one row per distinct
  * term of a document instead of one per token.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = TermCounts.Type

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires string input, got ${other.catalogString}")
  }

  override def nullSafeEval(s: Any): Any =
    TermCounts.counts(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCounts.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)

  override def prettyName: String = "term_counts"
}

object TermCounts {
  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("f", LongType, nullable = false))), containsNull = false)

  private val Space = UTF8String.fromString(" ")

  /** Static kernel for both interpreted and generated code paths: the
    * tokens are Spark's own `split` (`UTF8String.split`, limit -1), so
    * they are the built-in's byte for byte, malformed UTF-8 included.
    */
  def counts(s: UTF8String): ArrayData = {
    val seen = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    s.split(Space, -1).foreach { t =>
      if (t.numBytes() > 0) {
        val c = seen.get(t)
        if (c == null) seen.put(t, Array(1L)) else c(0) += 1
      }
    }
    val out = new Array[Any](seen.size())
    var k = 0
    seen.forEach { (t, c) => out(k) = InternalRow(t, c(0)); k += 1 }
    new GenericArrayData(out)
  }

  def apply(text: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(text)))
}
