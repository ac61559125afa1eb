package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer — the hot first stage of every text
  * query, value-identical to the composed
  * `filter(split(c, "\\s+"), t => length(t) > 0)` form retained as
  * `TextOpsComposed.tokenizeComposed` (parity on random corpora,
  * including non-ASCII and mixed-whitespace content, in
  * ExpressionSpec).
  *
  * Why a kernel: the composed form runs a java.util.regex matcher
  * over every document AND an interpreted `ArrayFilter` lambda per
  * produced token (higher-order functions don't codegen their lambda
  * bodies). Java's default `\s` is exactly the six ASCII bytes
  * `[ \t\n{VT}\f\r]`, and no UTF-8 continuation byte collides with
  * ASCII values, so one byte scan over the UTF8String finds the
  * non-whitespace runs and each token is a zero-copy slice of the
  * parent buffer — no matcher, no lambda frames, no per-token copies.
  *
  * Null input → null (the composed chain's null propagation). Never
  * emits empty or null tokens.
  */
case class WhitespaceTokenizeExpr(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringInputTypes {

  // containsNull matches the composed filter(split(...)) type so
  // downstream schemas (and the gate's schema compare) are unchanged;
  // the kernel never actually emits null tokens
  override lazy val replacement: Expression =
    StaticInvoke(WhitespaceTokenizeImpl.getClass, ArrayType(StringType),
      "split", Seq(child), returnNullable = false)
  override def prettyName: String = "graft_tokenize"

  override protected def withNewChildInternal(
      newChild: Expression): WhitespaceTokenizeExpr = copy(child = newChild)
}

object WhitespaceTokenizeImpl {
  /** Java regex `\s` (non-UNICODE_CHARACTER_CLASS): space, \t, \n,
    * vertical-tab (0x0b), \f, \r — all single ASCII bytes.
    */
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' ||
      b == '\r'

  def split(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    // first pass: count runs (byte offsets; substring-by-byte via
    // UTF8String.fromAddress-equivalent copy per token slice)
    val bytes = s.getBytes
    var count = 0
    var i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out(k) = UTF8String.fromBytes(bytes, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }
}
