package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Native float64 vector kernels for the similarity stack.
  *
  * Each is semantically identical to the composed
  * `aggregate(zip_with(...))` form in [[graft.operators.Similarity]] —
  * same left-to-right IEEE accumulation order, so bit-identical
  * results and unchanged oracle hashes — but Spark's higher-order
  * functions are CodegenFallback with per-element interpreted lambda
  * evaluation, while these run one JIT-compiled loop per call inside
  * whole-stage codegen. The e-series queries spend most of their time
  * in exactly these kernels (one dot per scored candidate pair).
  *
  * Null contract mirrors the composed forms: a null array returns
  * null (nullIntolerant); a null ELEMENT poisons the accumulation to
  * null, exactly like `acc + null` inside `aggregate`.
  */
case class DotF64(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression]
    with org.apache.spark.sql.graftbridge.DoubleArrayInputTypes {

  // a null element yields a null SUM, not a null-skipping sum
  override lazy val replacement: Expression =
    StaticInvoke(VectorKernelImpl.getClass, DoubleType, "dot",
      Seq(left, right))
  override def prettyName: String = "graft_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF64 =
    copy(left = newLeft, right = newRight)
}

/** Sequential-order squared L2 distance — the [[DotF64]] of the
  * element-wise difference, fused into the same single pass.
  */
case class SqDistF64(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression]
    with org.apache.spark.sql.graftbridge.DoubleArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(VectorKernelImpl.getClass, DoubleType, "sqDist",
      Seq(left, right))
  override def prettyName: String = "graft_sqdist"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistF64 =
    copy(left = newLeft, right = newRight)
}

/** Sequential-order L2 norm: sqrt of the running sum of squares. */
case class NormF64(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.DoubleArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(VectorKernelImpl.getClass, DoubleType, "norm", Seq(child))
  override def prettyName: String = "graft_norm"

  override protected def withNewChildInternal(
      newChild: Expression): NormF64 = copy(child = newChild)
}

/** Per-dimension sign-bit sketch of the first `dim` elements as one
  * long — the native form of [[graft.operators.Similarity.signSketch]]'s
  * 64-term `when(element_at(...) >= 0, 1L << i)` chain. Semantics are
  * identical (bit i set iff element i is non-null and ≥ 0; a vector
  * shorter than `dim` raises), but the chain costs ~10 µs of
  * interpreted `element_at`/`when` walking per EVALUATION — and
  * Catalyst inlines the projection into the broadcast-join's pair
  * loop, so e13 paid it per scored pair: 2M pairs ≈ 24 s of the 25 s
  * sf1 runtime. One JIT-compiled array pass makes the eval cost
  * irrelevant wherever the optimizer re-sites it.
  */
case class SignSketch(child: Expression, dim: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.DoubleArrayInputTypes {
  require(dim >= 1 && dim <= 64, s"signSketch needs 1..64 dims, got $dim")

  override lazy val replacement: Expression =
    StaticInvoke(VectorKernelImpl.getClass, LongType, "signSketch",
      Seq(child, Literal(dim)), returnNullable = false)
  override def prettyName: String = "graft_signsketch"

  override protected def withNewChildInternal(
      newChild: Expression): SignSketch = copy(child = newChild)
}

object VectorKernelImpl {

  /** Bit i ∈ [0, dim) set iff element i is non-null and ≥ 0 —
    * exactly the composed `when(element_at(vec, i+1) >= 0, …)` chain
    * (a null element compares null → bit unset). Short vectors fail
    * loudly instead of silently sketching missing dims as 0.
    */
  def signSketch(arr: ArrayData, dim: Int): Long = {
    val n = arr.numElements()
    if (n < dim) throw new IllegalArgumentException(
      s"graft signSketch: vector has $n dims, needs >= $dim")
    var bits = 0L
    var i = 0
    while (i < dim) {
      if (!arr.isNullAt(i) && arr.getDouble(i) >= 0) bits |= 1L << i
      i += 1
    }
    bits
  }
  /** Left-to-right Σ a(i)·b(i); shorter array ends the zip (zip_with
    * pads with null, and null·x poisons the sum — mirrored here by
    * returning null on length mismatch, which zip_with + aggregate
    * would also produce for any mismatched non-empty tail).
    */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def sqDist(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def norm(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }
}
