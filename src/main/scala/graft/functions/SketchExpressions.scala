package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(key, filterBytes)` — membership probe against
  * a serialized [[org.apache.spark.util.sketch.BloomFilter]], the
  * executor half of the bloom semi-join pre-filter
  * ([[graft.etl.BloomJoin]]).
  *
  * The filter rides the plan as a BINARY LITERAL (the same shape as
  * Spark's internal runtime-filtering BloomFilterMightContain): it is
  * deserialized ONCE per task via a transient lazy val, never per row,
  * and ships through the task broadcast like any literal. Returns
  * false for NULL keys (a NULL equi-join key matches nothing, so the
  * pre-filter may drop it).
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType | StringType, BinaryType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint|string key, foldable binary filter), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: BloomFilter = {
    val bytes = right.eval().asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Row-level probe, shared by interpreted eval and codegen. */
  def probe(key: Any): Boolean = key match {
    case null => false
    case l: java.lang.Long => filter.mightContainLong(l)
    case s: UTF8String => filter.mightContainString(s.toString)
    case other => throw new IllegalArgumentException(
      s"unsupported bloom key: ${other.getClass}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    probe(left.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomExpr", this, classOf[BloomMightContain].getName)
    val keyCode = left.genCode(ctx)
    val keyBoxed = left.dataType match {
      case LongType => s"(${keyCode.isNull} ? null : (Object) ((Long) ${keyCode.value}))"
      case _ => s"(${keyCode.isNull} ? null : (Object) ${keyCode.value})"
    }
    ev.copy(
      code = code"""
        ${keyCode.code}
        boolean ${ev.value} = $self.probe($keyBoxed);
        """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object SketchFunctions {

  def bloomMightContain(key: Column, filter: BloomFilter): Column = {
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    NativeFunctions.bloomMightContain(key, lit(out.toByteArray))
  }
}
