package graft.functions

import java.time.Instant

import scala.util.Try

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType

/** A value fixed when the plan is built and read when it runs: a run's
  * clock, a run's "today". Unlike a literal it is not foldable, so the
  * optimizer leaves it in place, and its generated code reads the value
  * through the references array (`ctx.addReferenceObj`) instead of
  * writing it into the Java source. Two plans that differ only in a run
  * constant therefore generate the same source, and Spark's codegen
  * cache compiles it once — a literal timestamp or date makes every run
  * compile its whole-stage code again.
  *
  * The price: a filter on a run constant is not a literal filter, so it
  * is not pushed into a data source scan.
  *
  * `value` is in Catalyst's internal form for `dataType` (micros for a
  * timestamp, days for a date).
  */
case class RunConstant(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = value == null

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null)
      ExprCode(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
    else {
      val ref = ctx.addReferenceObj("runConstant", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
        isNull = FalseLiteral)
    }

  override def prettyName: String = "run_constant"

  override def toString: String = s"$prettyName(${Literal(value, dataType)})"

  override def sql: String = s"$prettyName(${Literal(value, dataType).sql})"
}

object RunConstants {

  /** The value of the constant column `c` as a run constant. */
  def of(c: Column): Column = NativeFunctions.runConstant(c)

  /** The current instant, taken now, as a timestamp run constant. */
  def now(): Column = of(lit(Instant.now()))

  /** `c` evaluated once, on the driver and without a job, as a run
    * constant when it folds to a constant (`current_date()` in the
    * session time zone, `lit("2024-01-06").cast("date")`); `c` itself
    * when it does not (it reads a column, is not deterministic or is
    * null). The value is read off the optimized plan of a one-row
    * projection, where Spark has already replaced the current date and
    * time and folded the constants. */
  def fix(spark: SparkSession, c: Column): Column =
    Try(spark.range(1).select(c.as("v")).queryExecution.optimizedPlan).toOption
      .collect { case Project(Seq(Alias(l: Literal, _)), _) if l.value != null => l }
      .fold(c)(l => of(lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))))
}
