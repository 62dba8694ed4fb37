package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDotProduct, HyperplaneSigExpr}

/** Session extensions (SURVEY.md §4.2): registers the engine's custom
  * Catalyst expressions into the SQL function registry so
  * `spark.sql("SELECT array_dot(a, b)")` works alongside the Column
  * API. Install with:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)
  *     // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      GraftExtensions.arrayDotBuilder))
    ext.injectFunction((
      new FunctionIdentifier("bbox_overlaps"),
      new ExpressionInfo(
        classOf[graft.plans.BboxOverlaps].getName, "bbox_overlaps"),
      GraftExtensions.bboxOverlapsBuilder))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSigExpr].getName, "hyperplane_sig"),
      GraftExtensions.hyperplaneSigBuilder))
    // the single custom optimizer rule: bbox_overlaps joins → bucketed
    ext.injectOptimizerRule(_ => graft.plans.RewriteBboxOverlapJoin)
    // whole-operator extension: two-phase heap top-k per group
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // filter constants as codegen parameters: one compile per shape
    ext.injectColumnar(_ => graft.plans.BindFilterConstants.Columnar)
  }
}

object GraftExtensions {
  private val arrayDotBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "array_dot takes exactly 2 arguments")
    ArrayDotProduct(children.head, children(1))
  }

  private val bboxOverlapsBuilder: Seq[Expression] => Expression =
    children => graft.plans.BboxOverlaps.coerced(children)

  private val hyperplaneSigBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 2 || children.length == 3,
        "hyperplane_sig(emb, bits[, seed])")
      // bits > 64 would silently alias (1L << b masks the shift) and
      // bits <= 0 would return a constant 0 signature — reject both
      def litVal(e: Expression): Long = e match {
        case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Int, _) => v.toLong
        case org.apache.spark.sql.catalyst.expressions
              .Literal(v: Long, _) => v
        case other => throw new IllegalArgumentException(
          s"hyperplane_sig bits/seed must be integer literals, got $other")
      }
      val bits = litVal(children(1))
      require(bits >= 1 && bits <= 64,
        s"hyperplane_sig bits must be in [1, 64], got $bits")
      HyperplaneSigExpr(children.head, bits.toInt,
        if (children.length == 3) litVal(children(2)) else 42L)
  }

  /** Register the engine functions + optimizer rule into an
    * already-running session (extensions proper can only be installed
    * at session build time). The BindFilterConstants physical rule is
    * build-time only: Spark fixes a session's columnar rules when it
    * builds the session state. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graftbridge.GraftExpr
      .registerFunction(spark, "array_dot", arrayDotBuilder)
    org.apache.spark.sql.graftbridge.GraftExpr
      .registerFunction(spark, "bbox_overlaps", bboxOverlapsBuilder)
    org.apache.spark.sql.graftbridge.GraftExpr
      .registerFunction(spark, "hyperplane_sig", hyperplaneSigBuilder)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RewriteBboxOverlapJoin)) {
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RewriteBboxOverlapJoin)
    }
    org.apache.spark.sql.graftbridge.GraftExpr
      .addStrategy(spark, graft.plans.TopKPerGroupStrategy)
  }
}
