package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row value histogram of a string array: one
  * struct(value, cnt) per DISTINCT value, sorted by value (binary
  * UTF8 order — Spark's string sort order), computed in one hash-map
  * sweep.
  *
  * This is the map-side half of a two-level count aggregate done
  * in-row: `explode(valueCounts(grams))` followed by a single
  * `groupBy(value)` replaces the
  * `explode(grams) → groupBy(doc, gram) → groupBy(gram)` chain in
  * corpus n-gram profiling — the per-(doc, gram) level never becomes
  * rows, so the first (corpus-sized) shuffle disappears and the one
  * remaining shuffle carries only per-doc DISTINCT values with
  * map-side partial aggregation on top.
  *
  * Value-identical to the composed form retained as
  * `NgramsComposed.valueCountsComposed`
  * (`transform(array_sort(array_distinct(a)), v => struct(v,
  * size(filter(a, t => t === v))))` — parity in ExpressionSpec).
  * Null elements are skipped entirely (callers feed n-gram arrays,
  * which are never null-valued; the composed form would emit a
  * (null, 0) entry, so parity is asserted on null-free arrays and
  * this kernel's contract is null-free input). Empty array → empty
  * array; null array → null.
  */
case class ValueCountsExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(ValueCountsImpl.getClass, ValueCountsExpr.OutType,
      "counts", Seq(child), returnNullable = false)
  override def prettyName: String = "graft_value_counts"

  override protected def withNewChildInternal(
      newChild: Expression): ValueCountsExpr = copy(child = newChild)
}

object ValueCountsExpr {
  val EntryType: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
  val OutType: DataType = ArrayType(EntryType, containsNull = false)
}

object ValueCountsImpl {
  def counts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val m = new java.util.TreeMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        m.put(t, m.getOrDefault(t, 0L) + 1L)
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    var k = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      k += 1
    }
    new GenericArrayData(out)
  }
}
