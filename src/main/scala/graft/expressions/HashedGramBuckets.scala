package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native hashed unigram+bigram feature buckets — the DSIR (sp08)
  * featurization, one sweep per document.
  *
  * Value-identical to the composed form retained as
  * `DsirComposed.featureBucketsComposed` (parity on random
  * corpora in ExpressionSpec): for token array `t_0..t_{n-1}` emit
  * `bucket(t_i)` for every token then `bucket(t_i ++ "_" ++ t_{i+1})`
  * for every adjacent pair, where `bucket(s) = u32(md5(s)[0..3]) % m`
  * — exactly `conv(substring(md5(s),1,8),16,10) % m`, the
  * oracle-profile hash ([[graft.features.FeatureHashing.bucketOracle]]).
  *
  * Why a kernel: the composed chain materializes a bigram STRING
  * array, then per feature a 32-char hex string, a substring and a
  * base-16 string parse — with a fresh MessageDigest per md5 call.
  * Here each feature is one digest update over the token's bytes (the
  * bigram feeds `a, '_', b` without building the concatenated string)
  * against a thread-local MessageDigest, and the bucket comes
  * straight from the first 4 digest bytes. sp08's featurization pass
  * is ~all of its cost at sf10 (271 s in BENCH_sf10_r09.json).
  *
  * Null contract mirrors the composed form: null array → null; a null
  * TOKEN yields a null unigram bucket and null buckets for the (up to
  * two) bigrams containing it (`concat` null-propagation).
  */
case class HashedGramBucketsExpr(child: Expression, numBuckets: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

  override lazy val replacement: Expression =
    StaticInvoke(HashedGramBucketsImpl.getClass,
      ArrayType(LongType, containsNull = true), "build",
      Seq(child, Literal(numBuckets)), returnNullable = false)
  override def prettyName: String = "graft_hashed_gram_buckets"

  override protected def withNewChildInternal(
      newChild: Expression): HashedGramBucketsExpr = copy(child = newChild)
}

object HashedGramBucketsImpl {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
  private val Sep = Array[Byte]('_')

  /** First 4 md5 bytes as an unsigned 32-bit value, mod m — equal to
    * `conv(substring(md5hex,1,8),16,10) % m` by construction (8 hex
    * chars ARE the first 4 digest bytes).
    */
  private def bucketOf(d: MessageDigest, m: Int): Long = {
    val dig = d.digest()
    val u32 = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
    u32 % m
  }

  def build(arr: ArrayData, m: Int): ArrayData = {
    val n = arr.numElements()
    val nBi = if (n >= 2) n - 1 else 0
    val out = new Array[Any](n + nBi)
    val d = md.get()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) out(i) = null
      else {
        d.reset()
        d.update(arr.getUTF8String(i).getBytes)
        out(i) = bucketOf(d, m)
      }
      i += 1
    }
    i = 0
    while (i < nBi) {
      if (arr.isNullAt(i) || arr.isNullAt(i + 1)) out(n + i) = null
      else {
        d.reset()
        d.update(arr.getUTF8String(i).getBytes)
        d.update(Sep)
        d.update(arr.getUTF8String(i + 1).getBytes)
        out(n + i) = bucketOf(d, m)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
