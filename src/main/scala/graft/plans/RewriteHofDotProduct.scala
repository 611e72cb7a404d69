package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

import graft.functions.DotProductScaled

/** Optimizer rule: recognize the composable higher-order-function
  * spelling of the scaled dot product —
  *
  *   aggregate(zip_with(a, b, (x, y) -> floor(x·y·scale + 0.5)), 0L, +)
  *
  * — and substitute the native codegen'd [[DotProductScaled]]. The HOF
  * form is what a SQL user writes naturally, but Catalyst cannot
  * whole-stage-codegen lambda functions: every row pays interpreted
  * dispatch per element plus a materialized intermediate array (~10×
  * in the ANN hot loop; SCALE.md "Two real super-linear findings"
  * records the same interpreted-HOF cost for shingling). The two forms
  * are semantically identical by construction — same IEEE ops per
  * element, same int64
  * accumulation, same NULL result on null input, null element, or
  * length mismatch (zip_with pads with null → floor(null) → null sum)
  * — and the equivalence is pinned in DotProductScaledSpec, so the
  * substitution is safe wherever the pattern matches exactly. Matching
  * is deliberately strict (exact op tree, exact literals, variable
  * identity): near-misses keep their written semantics.
  *
  * Registered by [[graft.GraftExtensions]] via `injectOptimizerRule` —
  * the same hook Delta/Iceberg use for their rewrites.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  /** The scale term as written (`CAST(longLit AS DOUBLE)`) or as left by
    * ConstantFolding, which runs in the same fixed-point batch and folds
    * the cast to a double literal before this rule sees it.
    */
  private object ScaleLiteral {
    def unapply(e: Expression): Option[Long] = e match {
      case Cast(Literal(s: Long, LongType), DoubleType, _, _) => Some(s)
      case Literal(d: Double, DoubleType)
          if d.isWhole && d >= 1 && d <= Long.MaxValue.toDouble => Some(d.toLong)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(
              Floor(Add(
                Multiply(
                  Multiply(
                    Cast(xu: NamedLambdaVariable, DoubleType, _, _),
                    Cast(yu: NamedLambdaVariable, DoubleType, _, _), _),
                  ScaleLiteral(scale), _),
                Literal(0.5d, DoubleType), _)),
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), false)),
          zero @ Literal(_, _),
          LambdaFunction(
            Add(accu: NamedLambdaVariable, elemu: NamedLambdaVariable, _),
            Seq(acc: NamedLambdaVariable, elem: NamedLambdaVariable), false),
          LambdaFunction(finu: NamedLambdaVariable, Seq(fin: NamedLambdaVariable), false))
        if xu.exprId == x.exprId && yu.exprId == y.exprId &&
          accu.exprId == acc.exprId && elemu.exprId == elem.exprId &&
          finu.exprId == fin.exprId &&
          isLongZero(zero) &&
          isFloatArray(a) && isFloatArray(b) =>
      DotProductScaled(a, b, scale)
  }

  /** [[DotProductScaled]] reads elements via `ArrayData.getFloat`, so the
    * substitution is only valid for `array<float>` inputs. Any other element
    * type (the cast-to-double in the lambda also matches array<int> /
    * array<bigint> / array<double>) keeps its written HOF semantics —
    * substituting there would reinterpret the raw bytes as float.
    */
  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isLongZero(l: Literal): Boolean = l match {
    case Literal(0L, LongType) => true
    case Literal(0, _) => l.value == 0
    case _ => false
  }
}
