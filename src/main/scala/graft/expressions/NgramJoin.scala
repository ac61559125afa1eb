package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram builder: all space-joined word n-grams of a token
  * array in ONE sweep, staying in `UTF8String` space (no
  * decode/encode round-trip, no `sequence` index array, no lambda
  * frames per gram). This is the hot inner loop of every
  * shingle/gram consumer — Dedup.shingles (d02/d03/d05/d12–d14),
  * t09/t13/t14, the t20 fit — where the composed
  * `transform(sequence(...), concat_ws(...))` form measured ~80% of
  * d03's shingle stage at sf0.1.
  *
  * Value-identical to the composed form in
  * `AnalysisComposed.ngramsComposed` (parity on random corpora
  * in ExpressionSpec): same "w1 w2" join, `concat_ws`'s null-element
  * skip, and an empty array for docs shorter than n. Null INPUT
  * returns null here; `Analysis.ngrams` coalesces to the composed
  * form's empty array.
  */
case class NgramJoinExpr(child: Expression, n: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  require(n >= 1, s"ngram n must be >= 1, got $n")

  override lazy val replacement: Expression =
    StaticInvoke(NgramJoinImpl.getClass, ArrayType(StringType), "build",
      Seq(child, Literal(n)), returnNullable = false)
  override def prettyName: String = "graft_ngrams"

  override protected def withNewChildInternal(
      newChild: Expression): NgramJoinExpr = copy(child = newChild)
}

object NgramJoinImpl {
  private val Space = UTF8String.fromString(" ")

  def build(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](num - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= num - n) {
      var j = 0
      while (j < n) {
        // null elements flow through: concatWs skips them, exactly
        // like the composed concat_ws
        window(j) = arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
