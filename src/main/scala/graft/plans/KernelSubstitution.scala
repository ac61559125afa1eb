package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.expressions.{DotF64, NormF64}

/** Optimizer rule: recognize the composed higher-order-function
  * idioms for dot product and L2 norm and substitute the native
  * fused kernels.
  *
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) ->
  * acc + v)` is the idiomatic Spark spelling of a dot product — and
  * it evaluates as interpreted per-element lambdas (HOFs are
  * CodegenFallback). [[graft.expressions.DotF64]] is bit-identical
  * (same left-to-right IEEE accumulation; parity pinned in
  * ExpressionSpec) and runs as one JIT loop inside whole-stage
  * codegen, so the rewrite is semantics-preserving by construction
  * and strictly faster. Same for
  * `sqrt(aggregate(transform(a, x -> x * x), 0.0, +))` →
  * [[graft.expressions.NormF64]].
  *
  * This is the classic engine move — recognize an idiom, swap in the
  * fused kernel — expressed the Spark-native way: a
  * `Rule[LogicalPlan]` injected through `SparkSessionExtensions`
  * (`GraftExtensions`), so ANY query on the session benefits, SQL
  * text included, without calling the graft Column helpers.
  *
  * Matching is deliberately conservative: exact zero literal, exact
  * lambda shapes (`acc + v` in that order, operands resolving to the
  * lambda's own variables, at most a cast-to-double in between), and
  * an identity finish lambda — anything else is left untouched.
  *
  * The rule runs after `ReplaceExpressions`, so it emits each kernel's
  * `replacement` (its static call) rather than the kernel itself.
  */
object KernelSubstitution extends Rule[LogicalPlan] {

  /** The expression, stripped of an optional cast-to-double. */
  private object ToDouble {
    def unapply(e: Expression): Option[Expression] = e match {
      case c: Cast if c.dataType == DoubleType => Some(c.child)
      case _ => Some(e)
    }
  }

  /** (x, y) -> x * y over exactly the lambda's two variables. */
  private def isPairProduct(f: Expression): Boolean = f match {
    case LambdaFunction(m: Multiply, Seq(
        x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (m.left, m.right) match {
        case (ToDouble(lx: NamedLambdaVariable),
              ToDouble(ly: NamedLambdaVariable)) =>
          lx.exprId == x.exprId && ly.exprId == y.exprId
        case _ => false
      }
    case _ => false
  }

  /** x -> x * x over the lambda's single variable. */
  private def isSquare(f: Expression): Boolean = f match {
    case LambdaFunction(m: Multiply, Seq(x: NamedLambdaVariable), _) =>
      (m.left, m.right) match {
        case (ToDouble(lx: NamedLambdaVariable),
              ToDouble(ly: NamedLambdaVariable)) =>
          lx.exprId == x.exprId && ly.exprId == x.exprId
        case _ => false
      }
    case _ => false
  }

  /** (acc, v) -> acc + v, in that operand order. */
  private def isSum(f: Expression): Boolean = f match {
    case LambdaFunction(a: Add, Seq(
        acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      (a.left, a.right) match {
        case (ToDouble(la: NamedLambdaVariable),
              ToDouble(lv: NamedLambdaVariable)) =>
          la.exprId == acc.exprId && lv.exprId == v.exprId
        case _ => false
      }
    case _ => false
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(b: NamedLambdaVariable,
        Seq(x: NamedLambdaVariable), _) => b.exprId == x.exprId
    case _ => false
  }

  private object ZeroD {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0.0, DoubleType) => true
      case _ => false
    }
  }

  /** The kernels declare array<double> inputs, and the analyzer's
    * implicit-cast insertion has already run by optimization time —
    * insert the same cast the analyzer would have (array<float> etc.
    * → array<double>), so the substituted plan stays resolved.
    */
  private def asDoubleArray(e: Expression): Expression = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => e
    case org.apache.spark.sql.types.ArrayType(_, cn) =>
      Cast(e, org.apache.spark.sql.types.ArrayType(DoubleType, cn))
    case _ => e
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, prod), ZeroD(), merge, finish)
          if isPairProduct(prod) && isSum(merge) && isIdentity(finish) =>
        DotF64(asDoubleArray(a), asDoubleArray(b)).replacement
      case sq: Sqrt => sq.child match {
        case ArrayAggregate(ArrayTransform(a, f), ZeroD(), merge, finish)
            if isSquare(f) && isSum(merge) && isIdentity(finish) =>
          NormF64(asDoubleArray(a)).replacement
        case _ => sq
      }
    }
}
