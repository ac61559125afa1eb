package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native in-row MinHash-LSH band signatures of a shingle array —
  * the md5-chunk profile of the specs' `DedupComposed.lshBandSignatures`
  * (`DedupComposed.minhashChunk`: permutation h = 8-hex-char slice
  * h%4 of md5("&lt;h/4&gt;|shingle")), computed in ONE pass over the
  * array.
  *
  * Value-identical to the composed in-row form retained as
  * `DedupComposed.bandSignaturesInRowComposed` (parity in
  * ExpressionSpec) and therefore to the aggregation form and the
  * DuckDB oracle: fixed-width lowercase hex makes lexicographic
  * minima equal numeric u32 minima, so the kernel tracks ints and
  * formats once; each band signature is md5 over the concatenated
  * rowsPerBand minima hex — byte-for-byte the composed
  * `md5(concat(...))`.
  *
  * Why a kernel: the composed form runs one `transform` lambda chain
  * PER PERMUTATION — numHashes full array passes, each re-hashing
  * every shingle because subexpression elimination cannot reach
  * inside separate lambda scopes (numHashes digests per shingle
  * instead of numHashes/4). Here every shingle is digested
  * ceil(numHashes/4) times against a thread-local MessageDigest and
  * all minima update in the same sweep. This is what makes a
  * zero-shuffle d03/st08 shape affordable: band signatures come out
  * of the scan projection, so the corpus-sized shingle explode +
  * group-by shuffle disappears from the candidate stage entirely.
  *
  * Empty shingle array → empty band array (the composed form's
  * `when(size > 0 ...)` guard); null array → null; null ELEMENTS are
  * skipped like `array_min` skips nulls. Parity contract edge case:
  * an array whose elements are ALL null also yields an EMPTY band
  * array here (no shingle ever fired), whereas the composed form's
  * `size > 0` branch emits band structs with null sigs — a deliberate
  * divergence, asserted in ExpressionSpec. It is unreachable from
  * every production call site (shingle arrays are `array_distinct`'d
  * ngram output, which never contains null elements), and the
  * kernel's all-empty answer is the one consistent with this
  * expression's non-null `sig` schema (`containsNull = false`).
  */
case class MinHashBandsExpr(child: Expression, numHashes: Int,
                            rowsPerBand: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringArrayInputTypes {

  require(numHashes > 0 && numHashes % rowsPerBand == 0,
    s"numHashes $numHashes must be a positive multiple of rowsPerBand")

  override lazy val replacement: Expression =
    StaticInvoke(MinHashBandsImpl.getClass, ArrayType(
      StructType(Seq(StructField("b", IntegerType, nullable = false),
        StructField("sig", StringType, nullable = false))),
      containsNull = false), "build",
      Seq(child, Literal(numHashes), Literal(rowsPerBand)),
      returnNullable = false)
  override def prettyName: String = "graft_minhash_bands"

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBandsExpr = copy(child = newChild)
}

object MinHashBandsImpl {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = HexChars((bytes(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = HexChars(bytes(i) & 0xf).toByte
      i += 1
    }
    out
  }

  def build(arr: ArrayData, numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val nDigests = (numHashes + 3) / 4
    // unsigned u32 minima; fixed-width lowercase hex orders the same
    val mins = Array.fill(numHashes)(-1L)
    val d = md.get()
    var i = 0
    var sawShingle = false
    while (i < n) {
      if (!arr.isNullAt(i)) {
        sawShingle = true
        val sBytes = arr.getUTF8String(i).getBytes
        var g = 0
        while (g < nDigests) {
          d.reset()
          // "<g>|" ASCII prefix, single-digit g for nDigests <= 10
          // (numHashes <= 40); larger profiles fall back to the string
          if (g < 10) {
            d.update(('0' + g).toByte)
            d.update('|'.toByte)
          } else d.update(s"$g|".getBytes("UTF-8"))
          d.update(sBytes)
          val dig = d.digest()
          var c = 0
          val hMax = math.min(4, numHashes - g * 4)
          while (c < hMax) {
            val u32 = ((dig(c * 4) & 0xffL) << 24) |
              ((dig(c * 4 + 1) & 0xffL) << 16) |
              ((dig(c * 4 + 2) & 0xffL) << 8) |
              (dig(c * 4 + 3) & 0xffL)
            val h = g * 4 + c
            if (mins(h) == -1L || u32 < mins(h)) mins(h) = u32
            c += 1
          }
          g += 1
        }
      }
      i += 1
    }
    if (!sawShingle) return new GenericArrayData(Array.empty[Any])
    val numBands = numHashes / rowsPerBand
    val out = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      d.reset()
      var r = 0
      while (r < rowsPerBand) {
        val u32 = mins(b * rowsPerBand + r)
        val hx = new Array[Byte](8)
        var k = 0
        while (k < 8) {
          hx(k) = HexChars(((u32 >> ((7 - k) * 4)) & 0xfL).toInt).toByte
          k += 1
        }
        d.update(hx)
        r += 1
      }
      val sig = UTF8String.fromBytes(hex(d.digest()))
      out(b) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](b, sig))
      b += 1
    }
    new GenericArrayData(out)
  }
}
