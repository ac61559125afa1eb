package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maximum multiplicity of any value in a string array, one hash-map
  * pass — the hot core of the Gopher top-token-fraction signal (t09).
  *
  * Value-identical to the composed
  * `array_max(transform(array_distinct(toks), w => size(filter(toks,
  * t => t === w))))` inside `AnalysisComposed.topTokenFractionComposed`
  * (parity in ExpressionSpec): that form is O(n·distinct) interpreted
  * lambda evaluations per document — ~60k comparisons for a 300-token
  * doc — where this is one O(n) counting sweep. Null elements count
  * as the composed form counts them: `t === null` is never true, so
  * they contribute multiplicity 0 and cannot win the max. Empty (or
  * all-null) array → 0; null array → null.
  */
case class MaxMultiplicityExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(MaxMultiplicityImpl.getClass, IntegerType, "maxCount",
      Seq(child), returnNullable = false)
  override def prettyName: String = "graft_max_multiplicity"

  override protected def withNewChildInternal(
      newChild: Expression): MaxMultiplicityExpr = copy(child = newChild)
}

object MaxMultiplicityImpl {
  def maxCount(arr: ArrayData): Int = {
    val n = arr.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var max = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        val c = counts.merge(t, 1, (a, b) => a + b)
        if (c > max) max = c
      }
      i += 1
    }
    max
  }
}
