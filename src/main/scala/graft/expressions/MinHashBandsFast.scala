package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native in-row MinHash-LSH band signatures on the FNV-1a production
  * profile — the [[MinHashBandsExpr]] analogue of
  * `DedupComposed.lshBandSignaturesFast`: permutation h is
  * `fmix64(fnv1a("&lt;h&gt;|" ++ shingle))`, minima are SIGNED long
  * `min`s, and each band signature is `fnv1a` of the `'|'`-joined
  * decimal minima (`concat_ws` of `cast(long as string)` — mirrored
  * byte-for-byte here via `Long.toString`).
  *
  * One sweep per shingle array: the FNV state after each `"&lt;h&gt;|"`
  * prefix is precomputed once per expression, so permutation h costs
  * only the multiply/xor walk over the shingle's code points — no
  * per-hash prefix concat, no lambda frames, no group-by shuffle.
  * Value parity with the composed aggregation form is asserted in
  * ExpressionSpec/DedupSimilaritySpec.
  *
  * Empty array → empty band array; null array → null; null elements
  * skipped (the aggregate `min`'s null skip).
  */
case class MinHashBandsFastExpr(child: Expression, numHashes: Int,
                                rowsPerBand: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  require(numHashes > 0 && numHashes % rowsPerBand == 0,
    s"numHashes $numHashes must be a positive multiple of rowsPerBand")

  override lazy val replacement: Expression =
    StaticInvoke(MinHashBandsFastImpl.getClass, ArrayType(
      StructType(Seq(StructField("b", IntegerType, nullable = false),
        StructField("sig", LongType, nullable = false))),
      containsNull = false), "build",
      Seq(child, Literal(numHashes), Literal(rowsPerBand)),
      returnNullable = false)
  override def prettyName: String = "graft_minhash_bands_fast"

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBandsFastExpr = copy(child = newChild)
}

object MinHashBandsFastImpl {
  private val Basis = 0xcbf29ce484222325L
  private val Prime = 0x100000001b3L

  /** FNV-1a states after hashing the ASCII prefix "&lt;h&gt;|", one per
    * permutation — cached per numHashes (tiny, computed once per JVM).
    */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  private def prefixStates(numHashes: Int): Array[Long] =
    prefixCache.computeIfAbsent(numHashes, _ =>
      Array.tabulate(numHashes) { h =>
        var st = Basis
        val p = s"$h|"
        var i = 0
        while (i < p.length) {
          st ^= p.charAt(i).toInt
          st *= Prime
          i += 1
        }
        st
      })

  /** Continue FNV-1a from `state` over the string's code points, then
    * avalanche — equal to `Fnv64Impl.fnv1a64(prefix ++ s)`.
    */
  private def fnvFrom(state: Long, str: String): Long = {
    var h = state
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h ^= cp
      h *= Prime
      i += Character.charCount(cp)
    }
    Fnv64Impl.fmix64(h)
  }

  def build(arr: ArrayData, numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val states = prefixStates(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var sawShingle = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        sawShingle = true
        val str = arr.getUTF8String(i).toString
        var h = 0
        while (h < numHashes) {
          val v = fnvFrom(states(h), str)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (!sawShingle) return new GenericArrayData(Array.empty[Any])
    val numBands = numHashes / rowsPerBand
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      val sb = new java.lang.StringBuilder(rowsPerBand * 21)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('|')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      // ASCII decimal/sep chars: codePointAt == charAt, so this is
      // exactly fnv1a64(concat_ws("|", cast minima as string))
      out(b) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](b, fnvFrom(Basis, sb.toString)))
      b += 1
    }
    new GenericArrayData(out)
  }
}
