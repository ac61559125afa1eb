package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Marker-word language ID in one sweep: per-language hit counts
  * (duplicates count, exactly like the composed per-language
  * `size(filter(tokens, t => array_contains(markers, t)))` passes),
  * argmax with first-in-priority-order tie-break, "und" when no
  * marker fires.
  *
  * Value-identical to `AnalysisComposed.langIdComposed` (parity
  * on random corpora in ExpressionSpec). The composed form runs one
  * interpreted `filter` lambda per LANGUAGE per row, each doing an
  * O(|markers|) linear `array_contains` per token; here every token
  * is one hash probe into a marker→language-bitmask map (a marker
  * like "que" belongs to several languages — the mask increments all
  * of them, same as the independent composed passes). Null tokens
  * contribute nothing (the composed predicate is null for them).
  */
case class LangIdExpr(child: Expression,
                      markers: Seq[(String, Seq[String])])
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  // The marker→language mask is a 32-bit Int (1 << i per language);
  // a 33rd language would silently alias to bit 0 and misattribute
  // hits. Fail loudly at construction instead.
  require(markers.size <= 32,
    s"LangIdExpr supports at most 32 languages (got ${markers.size}); " +
      "widen the bitmask to Long/long[] before adding more")

  override lazy val replacement: Expression =
    StaticInvoke(LangIdImpl.getClass, StringType, "langId", Seq(child,
      Literal.fromObject(LangIdTables(markers),
        ObjectType(classOf[LangIdTables]))),
      returnNullable = false)
  override def prettyName: String = "graft_lang_id"

  override protected def withNewChildInternal(
      newChild: Expression): LangIdExpr = copy(child = newChild)
}

/** The marker lists as a state literal (see [[StopWords]]): the
  * marker→language mask map and the language names in priority order.
  */
final case class LangIdTables(markers: Seq[(String, Seq[String])]) {
  @transient lazy val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markers.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, (if (prev == null) 0 else prev.intValue()) | (1 << i))
      }
    }
    m
  }
  @transient lazy val names: Array[UTF8String] =
    markers.map(l => UTF8String.fromString(l._1)).toArray
  override def toString: String =
    markers.map(_._1).mkString("LangIdTables(", ",", ")")
}

object LangIdImpl {
  private val Und = UTF8String.fromString("und")

  def langId(arr: ArrayData, tables: LangIdTables): UTF8String = {
    val masks = tables.masks
    val names = tables.names
    val n = arr.numElements()
    val hits = new Array[Int](names.length)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val m = masks.get(arr.getUTF8String(i))
        if (m != null) {
          val mask = m.intValue()
          var l = 0
          while (l < names.length) {
            if ((mask & (1 << l)) != 0) hits(l) += 1
            l += 1
          }
        }
      }
      i += 1
    }
    var best = 0
    var l = 0
    while (l < names.length) {
      if (hits(l) > best) best = hits(l)
      l += 1
    }
    if (best == 0) Und
    else {
      var w = 0
      while (hits(w) != best) w += 1 // first in priority order wins ties
      names(w)
    }
  }
}
