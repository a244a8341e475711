package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A named request value (`:symbol`, `:minutes`, `:asof`) in a prepared
  * plan ([[graft.api.SqlApi]]). Not foldable, so analysis and
  * optimization keep it as a leaf instead of folding it into a literal of
  * one request's value: the plan is prepared once, unbound
  * (`value == null`), and each request binds its values into a copy.
  *
  * `value` is in Catalyst's internal form (`UTF8String`, epoch micros).
  * The generated code reads it from the `references` array
  * (`ctx.addReferenceObj`) rather than inlining it, so the source, and
  * the class compiled from it, is the same for every value. */
case class RequestParam(name: String, dataType: DataType, value: Any = null)
    extends LeafExpression {

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = {
    if (value == null)
      throw new IllegalStateException(s"request parameter :$name is not bound")
    value
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    RequestParam.genReference(ctx, ev, eval(null), dataType)

  override def sql: String = s":$name"
  override def toString: String = if (value == null) sql else s"$sql=$value"
}

object RequestParam {

  /** Code that reads `value` from the generated class's `references`. */
  private[functions] def genReference(ctx: CodegenContext, ev: ExprCode,
      value: Any, dataType: DataType): ExprCode = {
    val ref = ctx.addReferenceObj("requestParam", value,
      CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(read, dataType))
  }
}

/** A bound request value as a [[Literal]], for the predicates of an
  * in-memory scan: the scan prunes cached batches only on `Literal`
  * operands. It builds that pruning predicate from the literal inside
  * each task and compiles it; a plain timestamp literal is inlined into
  * the source, which would compile a new class for every cutoff, so this
  * one reads its value by reference like [[RequestParam]]. */
final class RequestLiteral(value: Any, dataType: DataType)
    extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    RequestParam.genReference(ctx, ev, value, dataType)
}
