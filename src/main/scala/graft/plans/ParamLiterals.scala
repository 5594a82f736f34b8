package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant bound as a codegen PARAMETER instead of spliced into
  * the generated Java source.
  *
  * Spark's `Literal.doGenCode` writes a primitive value straight into the
  * source (`(k_0 == 42L)`), and the compiled-class cache is keyed by that
  * source, so two statements that differ only in a key constant each run
  * Janino and then JIT a fresh class. Keyed point/range reads and DML by
  * key are exactly that traffic. Here the value travels in the generated
  * class's `references` array and is unboxed once into a state field at
  * init: the source is identical for every value, and the second statement
  * reuses the first one's class.
  *
  * Everything outside codegen sees a plain literal: `eval` returns the
  * value, `foldable` holds, `toString`/`sql` render as [[Literal]] (plan
  * text and EXPLAIN do not change), and the canonical form IS the
  * equivalent `Literal` — the value stays in it, so exchange/subquery reuse
  * never merges plans that differ only in a constant. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.bindable(dataType),
    s"ParamLiteral binds non-null primitives only, got $value: $dataType")
  private def literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def contextIndependentFoldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override lazy val canonicalized: Expression = literal

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "paramLit",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** Types whose `Literal.doGenCode` splices the value into the source;
    * strings and decimals already go through `references`. */
  def bindable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && bindable(dt) => ParamLiteral(v, dt)
    case other => other
  }

  /** Binds the literal operands of comparisons and IN lists (apply with
    * `transform`). Other literals (window frames, LIKE patterns, `round`
    * scales, ...) are left alone: some operators read those as plan
    * constants. */
  val bindComparisons: PartialFunction[Expression, Expression] = {
    case c: BinaryComparison => c.mapChildren(bind)
    case i: In => i.mapChildren(bind)
  }
}

/** Rewrites `FilterExec.condition` and `ProjectExec.projectList` with
  * [[ParamLiteral.bindComparisons]]. Runs after physical planning (data
  * source pushdown has already read the plain literals) and before
  * `CollapseCodegenStages`, in both the non-adaptive preparations and AQE's
  * per-stage rules. */
object BindParamLiterals extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) =>
      p.transformExpressions(ParamLiteral.bindComparisons)
  }
}

/** Installs [[BindParamLiterals]] through the columnar-rule hook, whose
  * pre-transition rule runs just before codegen stages are collapsed. */
object ParamLiteralColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = BindParamLiterals
}
