package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical rule: filter constants become codegen parameters, so a
  * query template compiles once however its constants vary.
  *
  * Spark's codegen writes numeric, boolean, date and timestamp
  * literals straight into the generated Java source, so two STAC
  * searches that differ only in their bbox edges, datetime bounds,
  * cql2 numbers or keyset token generate different classes, and each
  * request pays a Janino compile plus JIT warm-up for a class it runs
  * once. This rule replaces each such literal operand of a comparison
  * in a `FilterExec` condition with a [[BoundConstant]], which the
  * generated code reads from the plan's reference array. Searches of
  * one shape then generate identical source, and Spark's codegen cache
  * hands back the class it compiled for the first of them — the
  * prepared-statement discipline, applied per query shape.
  *
  * Only the post-scan `FilterExec` changes: partition pruning and the
  * Parquet pushdown filters live on the scan node and keep their
  * literals. Null literals stay literals (codegen folds them to a
  * constant null, and the comparison to constant null). It runs as a
  * pre-columnar rule ([[Columnar]], installed by GraftExtensions), which
  * both the AQE and the non-AQE physical paths apply before
  * CollapseCodegenStages.
  */
object BindFilterConstants extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = bind(f.condition))
  }

  private[graft] def bind(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.mapChildren {
      case l: Literal if l.value != null && inlined(l.dataType) =>
        BoundConstant(l)
      case other => other
    }
  }

  /** The types Literal.doGenCode writes into the source as Java
    * literals; every other type is already a reference. */
  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Carrier for injectColumnar: the rule as a pre-transition pass. */
  object Columnar extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindFilterConstants
  }
}

/** A non-null constant the generated code reads from the plan's
  * reference array (once, into a field, when the generated object is
  * initialized) instead of carrying it in the source. Equality and
  * hashing are the wrapped Literal's, so plan comparison, exchange
  * reuse and canonicalization still see the value. */
case class BoundConstant(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def sql: String = lit.sql
  override def toString: String = s"bound($lit)"

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj(
      "bound", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
