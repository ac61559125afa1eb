package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native single-pass kernel for t18's Gopher-rule statistics: token
  * count, summed token length, max token multiplicity, distinct
  * stop-words present, 2-gram count and duplicate-2-gram count — all
  * integers, from ONE sweep with two hash tables.
  *
  * Value-identical to the composed HOF form it replaced (token
  * lengths via `UTF8String.numChars`, exactly Catalyst's `length`;
  * 2-gram identity = the adjacent token PAIR, equivalent to the
  * joined `"w1 w2"` string because whitespace-split tokens cannot
  * contain a space) — parity on random corpora in ExpressionSpec.
  * The composed form paid an O(n·distinct)-ish chain of array
  * allocations per row and measured 58.4 s at pseudo-sf10.
  *
  * Returns struct(n_tokens, sum_len, top_count, n_stop_distinct,
  * n_2grams, n_dup_2grams).
  */
case class GopherStatsExpr(child: Expression, stopWords: Seq[String])
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(GopherStatsImpl.getClass, GopherStatsExpr.OutType,
      "stats", Seq(child, Literal.fromObject(StopWords(stopWords),
        ObjectType(classOf[StopWords]))),
      returnNullable = false)
  override def prettyName: String = "graft_gopher_stats"

  override protected def withNewChildInternal(
      newChild: Expression): GopherStatsExpr = copy(child = newChild)
}

object GopherStatsExpr {
  val OutType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("n_stop_distinct", LongType, nullable = false),
    StructField("n_2grams", LongType, nullable = false),
    StructField("n_dup_2grams", LongType, nullable = false)))
}

object GopherStatsImpl {
  def stats(arr: ArrayData, stopWords: StopWords): InternalRow = {
    val stops = stopWords.strings
    val n = arr.numElements()
    val counts = new java.util.HashMap[String, Long]()
    val grams = new java.util.HashSet[(String, String)]()
    var sumLen = 0L
    var dup2 = 0L
    var prev: String = null
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      sumLen += u.numChars()
      val s = u.toString
      counts.put(s, counts.getOrDefault(s, 0L) + 1L)
      if (prev != null && !grams.add((prev, s))) dup2 += 1L
      prev = s
      i += 1
    }
    var top = 0L
    var stopDistinct = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > top) top = e.getValue
      if (stops.contains(e.getKey)) stopDistinct += 1L
    }
    val n2 = if (n >= 2) (n - 1).toLong else 0L
    new GenericInternalRow(Array[Any](
      n.toLong, sumLen, top, stopDistinct, n2, dup2))
  }
}
