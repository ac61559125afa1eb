package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native byte-histogram diversity kernel for t19 — one tight loop
  * over the string's UTF-8 bytes, no per-char array allocation.
  *
  * Semantically identical on ASCII text to the composed
  * `split + sortedRunLengths + aggregate` form (byte order = char
  * order ≤ 0x7F; same term expression `(c/n)·ln(n/c)` folded in the
  * same ascending-value order, so Shannon is bit-identical and oracle
  * hashes are unchanged). On multi-byte text this counts BYTES, not
  * code points — the corpus contract is ASCII (`TextOps.clean`
  * output); a code-point histogram would need a decoding loop, not a
  * different algorithm.
  *
  * Why native: the HOF form allocates one UTF8String per character
  * and sorts them interpreted — measured 15.7×/decade super-linear
  * wall growth from allocator/GC pressure at pseudo-sf1 (SCALE.md
  * round 9); this kernel is a 256-slot table scan inside whole-stage
  * codegen.
  *
  * Returns struct(n_total, n_distinct, sum_sq, shannon): the exact
  * integer Simpson/Gini pieces plus the float entropy.
  */
case class CharDiversityStats(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(CharDiversityImpl.getClass, CharDiversityStats.OutType,
      "stats", Seq(child), returnNullable = false)
  override def prettyName: String = "graft_char_diversity"

  override protected def withNewChildInternal(
      newChild: Expression): CharDiversityStats = copy(child = newChild)
}

object CharDiversityStats {
  val OutType: StructType = StructType(Seq(
    StructField("n_total", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("shannon", DoubleType, nullable = false)))
}

object CharDiversityImpl {
  /** One pass: 256-slot byte histogram, then ascending-value fold —
    * the same term order the char-sorted HOF form and the DuckDB
    * oracle use.
    */
  def stats(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) {
      hist(bytes(i) & 0xff) += 1
      i += 1
    }
    val n = bytes.length.toLong
    var distinct = 0L
    var sumSq = 0L
    var shannon = 0.0
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) {
        distinct += 1
        sumSq += c * c
        // StrictMath, not Math: Catalyst's Log expression evaluates
        // via StrictMath.log, and bit-parity with the composed HOF
        // form (ExpressionSpec) requires the same rounding
        shannon += (c.toDouble / n) * StrictMath.log(n.toDouble / c)
      }
      b += 1
    }
    new GenericInternalRow(Array[Any](n, distinct, sumSq, shannon))
  }
}
