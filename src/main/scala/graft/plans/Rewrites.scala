package graft.plans

import graft.functions.DotProductLong
import org.apache.spark.sql.catalyst.expressions.{
  Add, ArrayAggregate, Expression, LambdaFunction, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer rule: rewrite the built-in integer dot-product spelling
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x) }}}
  *
  * into the native codegen'd [[DotProductLong]] — eliminating the
  * intermediate product array and the per-element lambda dispatch. This is
  * the §2.10 escalation ladder applied as an OPTIMIZATION, not an API
  * change: user code keeps the declarative spelling; the plan gets the
  * fused kernel. Guards are deliberately narrow (both inputs
  * `array<bigint>`, literal zero, pure multiply/add lambdas) — anything
  * else is left untouched. Sound for ALL legal inputs because
  * [[DotProductLong]] replicates the builtin null semantics exactly:
  * unequal lengths (zip_with null-pads the shorter array) and null
  * elements both yield a NULL sum, same as the aggregate spelling.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private object ZeroLong {
    def unapply(e: Expression): Boolean = e.foldable &&
      (e.dataType == LongType) && {
        val v = e.eval()
        v != null && v.asInstanceOf[Long] == 0L
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(a, b,
          LambdaFunction(Multiply(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
            Seq(x0: NamedLambdaVariable, y0: NamedLambdaVariable), _)),
        ZeroLong(),
        LambdaFunction(Add(m1: NamedLambdaVariable, m2: NamedLambdaVariable, _),
          Seq(acc0: NamedLambdaVariable, el0: NamedLambdaVariable), _),
        LambdaFunction(fin: NamedLambdaVariable, Seq(fin0: NamedLambdaVariable), _))
      if isLongArray(a) && isLongArray(b) &&
        Set(x1.exprId, y1.exprId) == Set(x0.exprId, y0.exprId) &&
        Set(m1.exprId, m2.exprId) == Set(acc0.exprId, el0.exprId) &&
        fin.exprId == fin0.exprId =>
      DotProductLong(a, b)
  }
}
