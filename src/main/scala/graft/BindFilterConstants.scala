package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter constant that generated code reads at run time instead of
  * spelling it into the Java source. `Literal.doGenCode` inlines
  * primitive values, so `datetime_utc >= <from>` compiles one class per
  * distinct `from`; this leaf puts the value in the stage's references
  * array and copies it once into a mutable field, so every value of one
  * query shape shares one generated class. Not foldable (nothing may fold
  * it back into a literal); `toString` and `sql` are the literal's, so
  * explain strings and plan dumps read as before.
  */
case class BoundLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("filterConstant",
      lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType),
      "filterConstant", v => s"$v = $ref;")
    ExprCode(FalseLiteral, JavaCode.global(field, dataType))
  }
}

/** Physical rule: the non-null primitive literals that are operands of a
  * comparison or an `IN` list inside a `FilterExec` condition become
  * [[BoundLiteral]]s, so a warm JVM reruns a query shape with new
  * constants (a `Lake.read` date range, a market id) without compiling.
  *
  * It runs as a `preColumnarTransitions` rule, which Spark applies to
  * every query stage with AQE on and to the whole plan with AQE off,
  * before `CollapseCodegenStages`. By then `FileSourceStrategy` has
  * already taken the scan's `PushedFilters` and partition filters from
  * the literal form, so parquet pushdown and directory pruning are
  * unchanged. Projections, aggregates, window frames and any argument
  * that must be foldable are left alone.
  */
object BindFilterConstants extends Rule[SparkPlan] {

  private def bind(e: Expression): Expression = e match {
    case l @ Literal(v, IntegerType | LongType | DateType | TimestampType |
        DoubleType | FloatType | ShortType | ByteType) if v != null =>
      BoundLiteral(l)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec => f.copy(condition = f.condition.transform {
      case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
      case in: In => in.copy(list = in.list.map(bind))
    })
  }

  /** The hook `GraftExtensions` injects. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindFilterConstants
  }
}
