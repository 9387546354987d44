package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads the value
  * from the plan's `references` slots, the way Spark already passes a
  * string literal (and [[graft.textops.MinhashBandKeys]] its
  * coefficients). `Literal` writes a byte … double, date or timestamp
  * into the Java source itself, so every new lookup key, cursor or
  * stream horizon is a new class for Janino to compile; with the value
  * in a slot, two plans that differ only in the value generate the same
  * source and share one compiled class from the codegen cache.
  *
  * Equality is the literal's (value and type), so canonicalization and
  * exchange reuse never merge two keys; `toString` and `sql` print what
  * the literal printed, so plan dumps read the same.
  */
case class SlotLiteral(literal: Literal) extends LeafExpression {
  require(SlotLiteral.holds(literal),
    s"SlotLiteral holds a non-null primitive, got $literal: ${literal.dataType}")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def eval(input: InternalRow): Any = literal.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    // unboxed once, when the generated class is initialized
    val v = ctx.addMutableState(javaType, "literal", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

object SlotLiteral {
  /** A non-null literal of a type whose `Literal` codegen inlines the value. */
  def holds(l: Literal): Boolean = l.value != null && (l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })
}

/** Physical rule: a literal that is a direct operand of a comparison in
  * a `FilterExec` condition becomes a [[SlotLiteral]]. Scans are left
  * alone: their pushed filters were built from the logical plan and keep
  * the `Literal`, so row-group pruning is unchanged. Injected before the
  * columnar transitions ([[GraftExtensions]]), so it runs ahead of
  * whole-stage collapse on AQE stages and on non-AQE plans alike.
  */
object StableFilterLiterals extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressionsUp {
      case c: BinaryComparison => c.mapChildren {
        case l: Literal if SlotLiteral.holds(l) => SlotLiteral(l)
        case e: Expression => e
      }
    }
  }
}

/** The hook [[GraftExtensions]] injects: [[StableFilterLiterals]] ahead
  * of the columnar transitions.
  */
object StableFilterLiteralsRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = StableFilterLiterals
}
