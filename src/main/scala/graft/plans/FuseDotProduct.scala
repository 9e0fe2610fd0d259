package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
// Size lives with the collection operations
import org.apache.spark.sql.catalyst.expressions.Size
import graft.functions.DotProduct

/** Optimizer rule: rewrite the portable higher-order-function dot
  * product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * into the fused codegen'd [[graft.functions.DotProduct]] expression.
  *
  * The HOF form ([[graft.ops.VectorOps.dotHof]]) is the semantic
  * definition any Spark user can write, but it allocates an
  * intermediate zipped array per row and evaluates two lambdas per
  * element; the fused expression is one tight loop inside
  * WholeStageCodegen. Both fold left-to-right over the same element
  * order and IEEE addition of two terms is commutative, so the
  * rewrite is bitwise result-preserving — which is what licenses an
  * optimizer rule rather than an API: users keep writing the
  * portable form and every session with [[graft.GraftExtensions]]
  * (or `GraftExtensions.install`) gets the fused plan.
  *
  * The guards are deliberately narrow: double-literal zero, a
  * multiply of exactly the two zip-lambda variables, an add of
  * exactly the two merge-lambda variables, an identity finish
  * lambda, and array<float|double> inputs — anything else is left
  * untouched. NULL semantics are preserved exactly: the HOF form
  * returns NULL for unequal lengths (zip_with pads with null) and
  * for any null element, so the rewrite guards the fused loop with a
  * length-equality check plus (only when the type admits null
  * elements) a null-element scan, falling back to NULL — still far
  * cheaper than the zipped-array allocation + two lambdas per
  * element.
  */
object FuseDotProduct extends Rule[LogicalPlan] {

  private def vectorTyped(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** TRUE iff `e` (an array) has no null elements; constant-folds to
    * TRUE when the type already proves it. Built in bound form (the
    * analyzer has already run when an optimizer rule fires). */
  private def noNullElements(e: Expression): Expression = e.dataType match {
    case ArrayType(_, false) => Literal.TrueLiteral
    case ArrayType(et, true) =>
      val x = NamedLambdaVariable("x", et, nullable = true)
      Not(ArrayExists(e, LambdaFunction(IsNull(x), Seq(x))))
    case _ => Literal.FalseLiteral
  }

  private def sameVars(l: Expression, r: Expression,
                       a: NamedLambdaVariable, b: NamedLambdaVariable): Boolean =
    (l, r) match {
      case (x: NamedLambdaVariable, y: NamedLambdaVariable) =>
        Set(x.exprId, y.exprId) == Set(a.exprId, b.exprId)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(ml, mr, _),
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          zero @ Literal(_, DoubleType),
          LambdaFunction(Add(al, ar, _),
            Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(fv: NamedLambdaVariable), _))
        if zero.value == 0.0 &&
          sameVars(ml, mr, x, y) && sameVars(al, ar, acc, el) &&
          fin.exprId == fv.exprId &&
          vectorTyped(a) && vectorTyped(b) =>
        // zip_with pads the shorter array with nulls and a null
        // element nulls the whole fold → the HOF form is NULL in both
        // cases; preserve that exactly.
        If(And(EqualTo(Size(a), Size(b)),
            And(noNullElements(a), noNullElements(b))),
          DotProduct(a, b),
          Literal(null, DoubleType))
    }
}
