package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Cast, Expression, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: rewrite the declarative higher-order dot-product
  * fold
  *
  * {{{ aggregate(zip_with(a, b, (x, y) => x.cast(D) * y.cast(D)),
  *               0.0, (acc, v) => acc + v) }}}
  *
  * into the native [[FloatVecDot]] codegen kernel — the (c)-tier
  * extension path (a `Rule[LogicalPlan]` injected by
  * [[GraftFunctions.register]]): users keep writing the portable declarative
  * form and the engine substitutes the allocation-free generated loop
  * (identical left-to-right double summation, so results are
  * bit-equal).
  *
  * The rewrite is unconditionally sound for `array<float>` inputs
  * because [[FloatVecDot]] implements the fold's EXACT null contract
  * (null when lengths differ — zip_with pads the shorter side with
  * nulls — or when any element is null). The structural match is
  * still deliberately tight:
  *  - the zip lambda must be the two lambda variables cast to double
  *    and multiplied, in order;
  *  - the merge lambda must be `acc + v` over its own two variables
  *    and the finish lambda the identity.
  *
  * Anything else — different element types, reordered operands, extra
  * arithmetic, non-zero init — is left untouched.
  */
object RewriteVecFolds extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isDotZip(zw: ZipWith): Boolean =
    isFloatArray(zw.left) && isFloatArray(zw.right) &&
      (zw.function match {
        case LambdaFunction(
            Multiply(Cast(x: NamedLambdaVariable, DoubleType, _, _),
              Cast(y: NamedLambdaVariable, DoubleType, _, _), _),
            Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
          x.exprId == a.exprId && y.exprId == b.exprId
        case _ => false
      })

  private def isPlainAdd(merge: Expression): Boolean = merge match {
    case LambdaFunction(
        Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      l.exprId == a.exprId && r.exprId == b.exprId
    case _ => false
  }

  private def isIdentity(finish: Expression): Boolean = finish match {
    case LambdaFunction(v: NamedLambdaVariable,
        Seq(a: NamedLambdaVariable), _) => v.exprId == a.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(zw: ZipWith, Literal(zero, DoubleType),
          merge, finish)
          if zero == 0.0 && isDotZip(zw) && isPlainAdd(merge) &&
            isIdentity(finish) =>
        FloatVecDot(zw.left, zw.right)
    }
}
