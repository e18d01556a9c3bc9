package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, In, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** A numeric literal whose value the generated code reads from the
  * compiled class's `references` array instead of inlining it.
  *
  * Spark inlines int/long/double/date/timestamp literals into the Java
  * source of whole-stage codegen, and its compiled-class cache is keyed
  * by that source, so two jobs that differ only in a constant
  * (`l_quantity BETWEEN 3 AND 4` vs `BETWEEN 7 AND 8`) each pay a
  * Janino compile and then run their fresh classes cold through the
  * JIT. With the value behind `references` the source is the same, the
  * cache hits, and the warm class is reused. Strings and decimals need
  * nothing: `Literal` already passes them through `references`.
  *
  * Prints exactly like the `Literal` it replaces, so explain text and
  * plan dumps do not change. Not foldable: nothing after planning may
  * evaluate it to a constant and inline it again.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val term = ctx.addMutableState(javaType, "paramLit", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(term, dataType))
  }
}

/** Physical rule lifting numeric literal operands out of generated
  * source (see [[ParamLiteral]]). Installed by
  * [[graft.functions.GraftExtensions]] as a columnar rule, which Spark
  * applies right before `CollapseCodegenStages` on both the adaptive
  * and the non-adaptive path.
  *
  * Rewrites only non-null numeric, date and timestamp literals that
  * are operands of a comparison, an arithmetic operator or an `IN`
  * list, and only in `FilterExec` conditions, `ProjectExec` lists and
  * hash aggregates whose functions are all Partial-mode declarative
  * aggregates. Scans keep their `Literal`s (Parquet pushdown and
  * partition pruning match on them); Final / PartialMerge / Complete
  * aggregates are left alone because their buffer attributes are bound
  * to the function instance the Partial side shares.
  */
object ParamLiterals extends Rule[SparkPlan] {

  private def liftable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType => true
    case _ => false
  })

  private def lift(e: Expression): Expression = e match {
    case l: Literal if liftable(l) => ParamLiteral(l.value, l.dataType)
    case other => other
  }

  private def rewrite(e: Expression): Expression = e.transformUp {
    case b: BinaryComparison => b.withNewChildren(b.children.map(lift))
    case b: BinaryArithmetic => b.withNewChildren(b.children.map(lift))
    case in: In => in.copy(list = in.list.map(lift))
  }

  private def partialOnly(agg: HashAggregateExec): Boolean =
    agg.aggregateExpressions.forall(a =>
      a.mode == Partial && a.aggregateFunction.isInstanceOf[DeclarativeAggregate])

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = rewrite(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
    case agg: HashAggregateExec if partialOnly(agg) =>
      agg.copy(aggregateExpressions = agg.aggregateExpressions.map(a =>
        a.copy(aggregateFunction = a.aggregateFunction.mapChildren(rewrite)
            .asInstanceOf[DeclarativeAggregate],
          filter = a.filter.map(rewrite))))
  }

  /** The columnar-rule hook that carries [[ParamLiterals]] into the
    * physical preparation phase.
    */
  object Hook extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}
