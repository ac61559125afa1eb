package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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
    extends UnaryExpression {

  override def dataType: DataType = ValueCountsExpr.OutType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_value_counts"

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
    else ValueCountsImpl.counts(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.expressions.ValueCountsImpl.counts($c);"
    })

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
        val prev = m.get(t)
        m.put(t, if (prev == null) 1L else prev + 1L)
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
