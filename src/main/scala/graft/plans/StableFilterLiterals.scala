package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical rule: filters that differ only in their comparison constants
  * share one generated class.
  *
  * Spark caches generated classes by source text, and a [[Literal]] is
  * written into that text: `azimuth >= 512` and `azimuth >= 640` compile
  * to two classes. So a session that repeats a filtered read with new
  * bounds (a window read, a date range) compiles the stage again on
  * every call and JIT-compiles it again after that. This rule swaps each
  * non-null fixed-width numeric literal that is a direct operand of a
  * comparison (`=`, `<=>`, `<`, `<=`, `>`, `>=`; `BETWEEN` is analysed
  * into two of them) in a [[FilterExec]] condition for a
  * [[StableLiteral]], which reads its value from the generated class's
  * `references` array. The source text then no longer holds the value.
  *
  * Scope, kept narrow on purpose:
  *   - only [[FilterExec]] conditions; the scan keeps its own filters,
  *     so parquet pushdown and partition pruning see plain literals;
  *   - literals under `LIKE`, `RLIKE`, `IN` or arithmetic stay inlined,
  *     because their values shape the code Spark generates for them;
  *   - a [[StableLiteral]] prints as its literal, so plan and `explain`
  *     text are unchanged.
  *
  * It runs before `CollapseCodegenStages` on both planning paths, as the
  * pre-transition half of a columnar rule: `QueryExecution` applies the
  * columnar rules just before collapsing codegen stages, and adaptive
  * execution does the same for every stage it creates. Injected by
  * [[graft.GraftExtensions]].
  */
object StableFilterLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec =>
      val condition = f.condition.transform {
        case c: BinaryComparison => c.mapChildren {
          case l: Literal if stable(l) => StableLiteral(l)
          case e => e
        }
      }
      if (condition.fastEquals(f.condition)) f else f.copy(condition = condition)
  }

  private def stable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  })

  /** The rule as a [[ColumnarRule]]: its pre-transition half runs on the
    * whole physical plan before codegen stages are collapsed. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = StableFilterLiterals
  }
}

/** A fixed-width numeric constant whose generated code reads the value
  * from the `references` array once per class instance, instead of
  * writing it into the source. Evaluates, prints and renders SQL exactly
  * like its [[Literal]]. */
case class StableLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", literal.value)
    val value = ctx.addMutableState(javaType, "literal", v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(value, dataType))
  }
}
