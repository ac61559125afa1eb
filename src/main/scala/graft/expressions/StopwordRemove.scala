package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native stop-word removal, order- and duplicate-preserving — the
  * hot filter of the ML featurization chain (t02, rddTokens;
  * reference semantics `LogisticRegression.py:35-39`).
  *
  * Value-identical to the composed
  * `filter(tokens, t => !array_contains(stopArr, t))` form retained as
  * `TextOpsComposed.removeStopwordsComposed` (parity in
  * ExpressionSpec): same order, duplicates kept, null elements dropped
  * (`array_contains(stops, null)` is null, so the composed predicate
  * is never TRUE for them). The composed form pays an interpreted
  * `ArrayFilter` lambda plus an O(|stops|) linear `array_contains`
  * scan per token (~179 comparisons against the NLTK list); this is
  * one hash probe per token.
  */
case class StopwordRemoveExpr(child: Expression, stopWords: Seq[String])
    extends UnaryExpression {

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopWords.size * 2)
    stopWords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def dataType: DataType = ArrayType(StringType)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_remove_stopwords"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"$prettyName requires array<string>, got $other")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else StopwordRemoveImpl.remove(v.asInstanceOf[ArrayData], stopSet)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet,
      "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.expressions.StopwordRemoveImpl" +
        s".remove($c, $setRef);"
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): StopwordRemoveExpr = copy(child = newChild)
}

object StopwordRemoveImpl {
  def remove(arr: ArrayData,
             stops: java.util.HashSet[UTF8String]): ArrayData = {
    val n = arr.numElements()
    val buf = new Array[Any](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (!stops.contains(t)) { buf(k) = t; k += 1 }
      }
      i += 1
    }
    if (k == n) new GenericArrayData(buf)
    else new GenericArrayData(java.util.Arrays.copyOf(
      buf.asInstanceOf[Array[AnyRef]], k))
  }
}
