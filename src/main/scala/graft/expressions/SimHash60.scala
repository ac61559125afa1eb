package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** One-pass 60-bit SimHash over pre-hashed tokens.
  *
  * Semantically identical to `DedupComposed.simhashFromHashes`
  * (per-bit ±1 votes over the token hashes, bit set iff the vote is
  * strictly positive; a null token hash votes −1 on every bit, exactly
  * like the composed form's `when(null === 1, …).otherwise(-1)`), but
  * computed in ONE traversal of the hash array instead of 60 — and,
  * decisively, outside the higher-order-function machinery: Spark's
  * `aggregate`/`transform` HOFs are CodegenFallback with per-element
  * interpreted lambda evaluation, so the composed form pays tree-walk
  * interpretation on every (token × bit) step. This expression
  * participates in whole-stage codegen and runs the vote loop as plain
  * JIT-compiled Scala. ExpressionSpec asserts codegen / interpreted /
  * SQL / composed-HOF parity; the d04 DuckDB oracle re-verifies the
  * bit math end-to-end every round.
  */
case class SimHash60(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.LongArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(SimHashImpl.getClass, LongType, "simhash60", Seq(child),
      returnNullable = false)
  override def prettyName: String = "graft_simhash60"

  override protected def withNewChildInternal(
      newChild: Expression): SimHash60 = copy(child = newChild)
}

/** The whole SimHash-from-tokens chain fused into one expression:
  * md5 each token, take its top 60 bits as the token hash (exactly
  * `conv(substring(md5(t),1,15),16,10)` — the first 15 hex nibbles),
  * vote per bit, pack. Equivalent to
  * `simhashFromHashes(tokenHashes(tokens))` but with no interpreted
  * `transform` pass, no hex-string round-trip per token, and no
  * intermediate hash array — one codegen'd call per document.
  * ExpressionSpec asserts parity against the composed form; the d04
  * oracle mirrors the same math in SQL.
  */
case class SimHashText(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(SimHashImpl.getClass, LongType, "simhash60Text",
      Seq(child), returnNullable = false)
  override def prettyName: String = "graft_simhash_text"

  override protected def withNewChildInternal(
      newChild: Expression): SimHashText = copy(child = newChild)
}

object SimHashImpl {

  private val threadMd5 =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  /** vote(b) = Σ (bit b of hv set ? +1 : −1) = 2·ones(b) − n, so
    * bit b of the fingerprint is set iff 2·ones(b) > n. Null elements
    * contribute 0 ones but count in n — i.e. they vote −1 per bit,
    * matching the composed HOF form.
    */
  def simhash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val ones = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val hv = arr.getLong(i)
        var b = 0
        while (b < 60) {
          ones(b) += ((hv >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (2 * ones(b) > n) fp |= 1L << b
      b += 1
    }
    fp
  }

  /** Top 60 bits of md5(token) — the value of the digest's first 15
    * hex nibbles, i.e. the big-endian long of bytes 0..7 shifted right
    * by one nibble. Identical to `conv(substring(md5(t),1,15),16,10)`.
    */
  private def tokenHash60(md: java.security.MessageDigest,
                          t: org.apache.spark.unsafe.types.UTF8String): Long = {
    md.reset()
    val d = md.digest(t.getBytes)
    val hi =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    hi >>> 4
  }

  /** Fused md5 + vote pass over a token array; null tokens vote −1 on
    * every bit, mirroring `tokenHashes`' null propagation through the
    * composed form.
    */
  def simhash60Text(arr: ArrayData): Long = {
    val md = threadMd5.get()
    val n = arr.numElements()
    val ones = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val hv = tokenHash60(md, arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          ones(b) += ((hv >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (2 * ones(b) > n) fp |= 1L << b
      b += 1
    }
    fp
  }
}
