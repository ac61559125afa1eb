package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native within-document repeated-window strip kernel (d19's hot
  * path): one seen-set pass over the token array — for each window
  * start, mark it cut iff its `window`-token CONTENT already appeared
  * in this document; covered positions splice out of the rebuilt
  * text.
  *
  * Semantically identical to the composed
  * `array_sort + neighbour-compare + exists-splice` form in
  * [[graft.operators.Dedup.intraDocStrip]] (keep-first over window
  * content — the seen-set IS keep-first, and both compare content
  * exactly; parity on random corpora in ExpressionSpec). Exactness:
  * window keys are `Vector[String]` hash-set members — structural
  * equality, no fingerprint, no separator aliasing.
  *
  * Why native: the composed form builds one struct per window with a
  * W-token array copy, sorts them with an interpreted comparator,
  * and re-walks the cut list per token — measured 86.9 s at
  * pseudo-sf10 (500k docs); this kernel is one hash-set sweep and
  * one splice per document.
  *
  * Returns struct(clean_text, n_removed).
  */
case class IntraDocStripExpr(child: Expression, window: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {
  require(window >= 2, s"window must be >= 2, got $window")

  override lazy val replacement: Expression =
    StaticInvoke(IntraDocStripImpl.getClass, IntraDocStripExpr.OutType,
      "strip", Seq(child, Literal(window)), returnNullable = false)
  override def prettyName: String = "graft_intradoc_strip"

  override protected def withNewChildInternal(
      newChild: Expression): IntraDocStripExpr = copy(child = newChild)
}

object IntraDocStripExpr {
  val OutType: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
}

object IntraDocStripImpl {
  def strip(arr: ArrayData, window: Int): InternalRow = {
    val n = arr.numElements()
    if (n < window) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i).toString)
        i += 1
      }
      return new GenericInternalRow(
        Array[Any](UTF8String.fromString(sb.toString), 0L))
    }
    val toks = new Array[String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i).toString; i += 1 }
    // keep-first seen-set over exact window content
    val seen = new java.util.HashSet[Vector[String]]()
    val covered = new Array[Boolean](n)
    var p = 0
    while (p <= n - window) {
      val key = {
        val b = Vector.newBuilder[String]
        var j = 0
        while (j < window) { b += toks(p + j); j += 1 }
        b.result()
      }
      if (!seen.add(key)) {
        var j = 0
        while (j < window) { covered(p + j) = true; j += 1 }
      }
      p += 1
    }
    val sb = new java.lang.StringBuilder
    var removed = 0L
    var first = true
    i = 0
    while (i < n) {
      if (covered(i)) removed += 1L
      else {
        if (!first) sb.append(' ')
        sb.append(toks(i))
        first = false
      }
      i += 1
    }
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), removed))
  }
}
