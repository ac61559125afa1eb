package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
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
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(StopwordRemoveImpl.getClass, ArrayType(StringType),
      "remove", Seq(child, Literal.fromObject(StopWords(stopWords),
        ObjectType(classOf[StopWords]))),
      returnNullable = false)
  override def prettyName: String = "graft_remove_stopwords"

  override protected def withNewChildInternal(
      newChild: Expression): StopwordRemoveExpr = copy(child = newChild)
}

/** A stop-word list as the object literal a kernel's static call reads.
  *
  * Every kernel's state literal is a case class of the parameters its
  * tables are built from, like this one: a literal compares by value,
  * so two copies of one expression stay semantically equal (a cached
  * frame or an exchange is reused across a self-join's re-aliased
  * copy), and the tables are `@transient lazy`, built on first use in
  * each JVM copy rather than each time the analyzer copies the
  * expression.
  */
final case class StopWords(words: Seq[String]) {
  @transient lazy val utf8: java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => set.add(UTF8String.fromString(w)))
    set
  }
  @transient lazy val strings: java.util.HashSet[String] = {
    val set = new java.util.HashSet[String](words.size * 2)
    words.foreach(set.add)
    set
  }
  override def toString: String = s"StopWords(${words.size} words)"
}

object StopwordRemoveImpl {
  def remove(arr: ArrayData, stopWords: StopWords): ArrayData = {
    val stops = stopWords.utf8
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
