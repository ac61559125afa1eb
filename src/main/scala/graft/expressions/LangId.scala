package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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
    extends UnaryExpression {

  // The marker→language mask is a 32-bit Int (1 << i per language);
  // a 33rd language would silently alias to bit 0 and misattribute
  // hits. Fail loudly at construction instead.
  require(markers.size <= 32,
    s"LangIdExpr supports at most 32 languages (got ${markers.size}); " +
      "widen the bitmask to Long/long[] before adding more")

  @transient private lazy val maskMap: java.util.HashMap[UTF8String, Integer] = {
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

  @transient private lazy val langNames: Array[UTF8String] =
    markers.map(l => UTF8String.fromString(l._1)).toArray

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_lang_id"

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
    else LangIdImpl.langId(v.asInstanceOf[ArrayData], maskMap, langNames)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("langMasks", maskMap,
      "java.util.HashMap")
    val namesRef = ctx.addReferenceObj("langNames", langNames,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.expressions.LangIdImpl" +
        s".langId($c, $mapRef, $namesRef);"
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): LangIdExpr = copy(child = newChild)
}

object LangIdImpl {
  private val Und = UTF8String.fromString("und")

  def langId(arr: ArrayData,
             masks: java.util.HashMap[UTF8String, Integer],
             names: Array[UTF8String]): UTF8String = {
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
