package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's `normalize_text`
  * (`/root/reference/autosinapi/core/processor.py:73-84` cell mode,
  * `:116-132` header mode). A codegen'd expression rather than a Scala UDF
  * so it stays inside whole-stage codegen (no Scala-closure serialization,
  * no extra null-safety wrapper) when applied row-wise at scale.
  */
case class NormalizeTextExpr(child: Expression, header: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String =
    if (header) "normalize_header" else "normalize_text"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      TextNorm.normalize(input.asInstanceOf[UTF8String].toString, header))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.TextNorm.normalize($c.toString(), $header))")

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}
