package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: rewrite the declarative higher-order dot-product idiom
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v) }}}
  *
  * into the native [[DotProduct]] expression (single codegen'd loop, no
  * intermediate products array). The HOF fold and the native loop sum in
  * the same left-to-right order, so the rewrite is value-preserving down
  * to the last bit — users keep writing the idiomatic declarative form and
  * the engine picks the fast path (SURVEY §4.3 escalation done as a
  * `Rule[LogicalPlan]` installed by [[GraftFunctions.register]]).
  *
  * A second pattern strips exact-widening casts: `graft_dot` over
  * `transform(v, x -> cast(x as double))` of a float array reads the float
  * array directly (float→double widening inside the loop is exact).
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private object MultiplyLambda {
    /** matches (x, y) -> x * y returning the two lambda vars */
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(Multiply(x: NamedLambdaVariable,
          y: NamedLambdaVariable, _), Seq(a: NamedLambdaVariable,
          b: NamedLambdaVariable), _) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }
  }

  private object AddLambda {
    /** matches (acc, v) -> acc + v */
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(Add(x: NamedLambdaVariable,
          y: NamedLambdaVariable, _), Seq(a: NamedLambdaVariable,
          b: NamedLambdaVariable), _) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }
  }

  private object IdentityLambda {
    def unapply(lf: LambdaFunction): Boolean = lf match {
      case LambdaFunction(v: NamedLambdaVariable,
          Seq(a: NamedLambdaVariable), _) => v.exprId == a.exprId
      case _ => false
    }
  }

  private object ExactWideningTransform {
    /** matches transform(floatArr, x -> cast(x as double)) */
    def unapply(e: Expression): Option[Expression] = e match {
      case ArrayTransform(arr, LambdaFunction(
          Cast(v: NamedLambdaVariable, DoubleType, _, _),
          Seq(a: NamedLambdaVariable), _))
        if v.exprId == a.exprId
          && arr.dataType.isInstanceOf[ArrayType]
          && arr.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
        Some(arr)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, mult: LambdaFunction),
          Literal(0.0, DoubleType), merge: LambdaFunction,
          finish: LambdaFunction)
        if MultiplyLambda.unapply(mult) && AddLambda.unapply(merge)
          && IdentityLambda.unapply(finish) =>
        DotProduct(a, b)
      case DotProduct(ExactWideningTransform(raw), other) =>
        DotProduct(raw, other)
      case DotProduct(other, ExactWideningTransform(raw)) =>
        DotProduct(other, raw)
    }
}
