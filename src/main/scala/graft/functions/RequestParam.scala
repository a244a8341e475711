package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A named request value (`:symbol`, `:minutes`, `:asof`) in a prepared
  * plan ([[graft.api.SqlApi]]). Not foldable, so analysis and
  * optimization keep it as a leaf instead of folding it into a literal of
  * one request's value. It has no value: preparation turns each
  * subexpression of parameters only into a [[RequestSlot]] (or a
  * literal, on the DataFrame path) before anything evaluates it. */
case class RequestParam(name: String, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  private def unbound = new IllegalStateException(s"request parameter $sql is not bound")
  override def eval(input: InternalRow): Any = throw unbound
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = throw unbound

  override def sql: String = s":$name"
  override def toString: String = sql
}

/** Slot `index` of a prepared plan: the value of one subexpression of
  * request parameters only, `source` (its SQL, e.g. `:symbol` or the
  * cutoff `timestampadd(MINUTE, -:minutes, :asof)`). A request hands its
  * values to its task as local properties ([[key]], [[encode]]),
  * so one plan, one RDD and one compiled class serve every request.
  * Generated code decodes the value into mutable state when the task
  * initialises the class, never per row. */
case class RequestSlot(index: Int, source: String, dataType: DataType, nullable: Boolean)
    extends LeafExpression {
  require(RequestSlot.supports(dataType), s"request slot $source of type $dataType")

  override def foldable: Boolean = false

  /** This slot's value in the running task, in Catalyst's internal form. */
  def current(): Any = {
    val task = TaskContext.get()
    if (task == null)
      throw new IllegalStateException(s"request slot $source read outside a task")
    RequestSlot.decode(task.getLocalProperty(RequestSlot.key(index)), dataType)
  }

  override def eval(input: InternalRow): Any = current()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genRead(ctx, ev)

  /** Code reading the value the task's class instance decoded at its
    * initialisation. */
  private[functions] def genRead(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val slot = ctx.addReferenceObj("requestSlot", this, getClass.getName)
    val javaType = CodeGenerator.javaType(dataType)
    val unbox =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) v).${javaType}Value()"
      else s"($javaType) v"
    val isNull =
      if (nullable) ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "slotIsNull") else ""
    val value = ctx.addMutableState(javaType, "slotValue", state =>
      if (nullable)
        s"""{ Object v = $slot.current(); $isNull = v == null;
           |  $state = $isNull ? ${CodeGenerator.defaultValue(dataType)} : $unbox; }""".stripMargin
      else s"{ Object v = $slot.current(); $state = $unbox; }")
    ev.copy(code = EmptyBlock,
      isNull = if (nullable) JavaCode.isNullGlobal(isNull) else FalseLiteral,
      value = JavaCode.global(value, dataType))
  }

  override def sql: String = source
  override def toString: String = source
}

object RequestSlot {

  /** The local property that carries slot `index`'s value; no property
    * means null. */
  def key(index: Int): String = s"graft.request.slot.$index"

  def supports(dataType: DataType): Boolean = dataType match {
    case _: StringType | BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType | DoubleType |
         _: DecimalType => true
    case _ => false
  }

  /** `value`, in Catalyst's internal form, as a property value. */
  def encode(value: Any): String = if (value == null) null else value.toString

  private def decode(s: String, dataType: DataType): Any =
    if (s == null) null
    else dataType match {
      case _: StringType => UTF8String.fromString(s)
      case BooleanType => s.toBoolean
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case d: DecimalType => Decimal(BigDecimal(s), d.precision, d.scale)
    }
}

/** A [[RequestSlot]] as a [[Literal]], for the predicates of an in-memory
  * scan: the scan prunes cached batches only on `Literal` operands. It
  * builds that pruning predicate inside each task and evaluates it there,
  * where this literal reads its slot. Its `value` is a placeholder that
  * nothing reads. */
final class SlotLiteral(val slot: RequestSlot)
    extends Literal(Literal.default(slot.dataType).value, slot.dataType) {
  override def nullable: Boolean = slot.nullable
  override def eval(input: InternalRow): Any = slot.current()
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = slot.genRead(ctx, ev)
  override def sql: String = slot.sql
  override def toString: String = slot.toString
  override def equals(other: Any): Boolean = other match {
    case o: SlotLiteral => o.slot == slot
    case _ => false
  }
  override def hashCode: Int = slot.hashCode
}
