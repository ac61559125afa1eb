package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass quality statistics over a token array: token count,
  * distinct-token count, summed token length (in chars), and
  * stop-word hit count — the four independent sweeps behind t05's
  * quality columns (n_tokens / n_distinct / ttr / mean_len /
  * stop_ratio all derive from these with scalar arithmetic).
  *
  * Value-identical to the composed forms it replaces (parity in
  * ExpressionSpec): `size(tokens)`, `size(array_distinct(tokens))`,
  * `aggregate(tokens, 0L, (acc, t) => acc + length(t))` and
  * `size(filter(tokens, t => array_contains(stops, t)))`. The
  * composed chain pays three interpreted higher-order lambdas and an
  * O(n·|stops|) membership scan per row; this is one sweep with one
  * hash set (distinct) and one hash probe (stops) per token.
  *
  * Null-element semantics mirror the composed forms exactly (tokenize
  * never emits nulls, but the contract is total): nulls count in
  * n_tokens; `array_distinct` keeps null as one distinct value;
  * `length(null)` nulls the whole length fold (sum_len → null);
  * `array_contains(stops, null)` is null so nulls never count as
  * stop hits.
  *
  * Returns struct(n_tokens, n_distinct, sum_len, n_stop) — all LONG,
  * sum_len nullable.
  */
case class TokenStatsExpr(child: Expression, stopWords: Seq[String])
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(TokenStatsImpl.getClass, TokenStatsExpr.OutType, "stats",
      Seq(child, Literal.fromObject(StopWords(stopWords),
        ObjectType(classOf[StopWords]))),
      returnNullable = false)
  override def prettyName: String = "graft_token_stats"

  override protected def withNewChildInternal(
      newChild: Expression): TokenStatsExpr = copy(child = newChild)
}

object TokenStatsExpr {
  val OutType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = true),
    StructField("n_stop", LongType, nullable = false)))
}

object TokenStatsImpl {
  def stats(arr: ArrayData, stopWords: StopWords): InternalRow = {
    val stops = stopWords.utf8
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String](n * 2)
    var sumLen = 0L
    var hasNull = false
    var nStop = 0L
    var nDistinct = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else {
        val t = arr.getUTF8String(i)
        sumLen += t.numChars()
        if (seen.add(t)) nDistinct += 1L
        if (stops.contains(t)) nStop += 1L
      }
      i += 1
    }
    if (hasNull) nDistinct += 1L // array_distinct keeps one null
    new GenericInternalRow(Array[Any](
      n.toLong, nDistinct, if (hasNull) null else sumLen, nStop))
  }
}
