package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Distinct-intersection SIZE of two `array<bigint>` hashed-shingle
  * sets, without materializing the intersection — the hot core of
  * d20's sets-verify Jaccard pass. Open-addressing probe over a
  * primitive long table, zero boxing.
  *
  * Value-identical to `size(array_intersect(a, b))` (parity in
  * ExpressionSpec: duplicates, nulls, empties, codegen+interpreted):
  * counts the distinct elements present in BOTH arrays, a shared null
  * element counting once, exactly as array_intersect would emit it.
  * Null input array → null.
  *
  * Why it exists (SCALE.md, round 9 coda 4, pseudo-sf10):
  * array_intersect builds an SQLOpenHashSet PLUS the full intersection
  * array per pair only for `size` to discard it. On d13's verify join
  * (4.4M candidate pairs of ~74-element shingle arrays) the
  * interleaved same-session A/B medians 16.8 s (kernel) vs 25.2 s
  * (composed); in a heap-degraded session the composed form was
  * measured at 59 s warm / 218 s cold — the allocation storm is what
  * amplifies under GC pressure, so the kernel also flattens that
  * failure mode. One smaller-side table build + larger-side probe
  * per pair, no output array, JIT-compiled inside whole-stage codegen.
  */
case class IntersectCountI64(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression]
    with org.apache.spark.sql.graftbridge.LongArrayInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(IntersectCountImpl.getClass, IntegerType, "countI64",
      Seq(left, right), returnNullable = false)
  override def prettyName: String = "graft_intersect_count_i64"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountI64 =
    copy(left = newLeft, right = newRight)
}

object IntersectCountImpl {
  /** Reused probe table, one per executor thread (round 12): the
    * kernel previously allocated a fresh `long[2·|small|]` per
    * CANDIDATE PAIR — at d20 scale that is the verify join's
    * dominant steady-state allocation, feeding exactly the GC-pacing
    * bimodality SCALE.md's forked studies trace (finding 3 / the
    * round-12 GC A/B). A thread-local backing array grown
    * high-water-mark style drops steady-state kernel allocation to
    * zero: the per-call `Arrays.fill` of the used prefix costs the
    * same O(cap) writes the allocator's zeroing already paid, minus
    * the garbage. Bounded by 2× the largest doc's shingle count per
    * thread. Semantics untouched (ExpressionSpec parity).
    */
  private val tableTl: ThreadLocal[Array[Long]] =
    ThreadLocal.withInitial(() => new Array[Long](1024))

  /** Distinct common elements of `a` and `b`: open-addressing table (capacity
    * = next pow2 ≥ 2·|small|), `Long.MinValue` slot = empty, matched
    * slots tombstoned back to empty so probe-side duplicates count
    * once. Null ELEMENTS: tracked via one boolean, matching
    * array_intersect's null-is-a-value semantics.
    */
  def countI64(a: ArrayData, b: ArrayData): Int = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    if (ns == 0) return 0
    var cap = 4
    while (cap < ns * 2) cap <<= 1
    val mask = cap - 1
    var table = tableTl.get()
    if (table.length < cap) {
      table = new Array[Long](cap)
      tableTl.set(table)
    }
    java.util.Arrays.fill(table, 0, cap, Long.MinValue)
    var smallHasNull = false
    var hasMinValue = false // Long.MinValue can't live in the table
    var i = 0
    var live = 0
    while (i < ns) {
      if (small.isNullAt(i)) smallHasNull = true
      else {
        val v = small.getLong(i)
        if (v == Long.MinValue) hasMinValue = true
        else {
          var s = (java.lang.Long.hashCode(v * -7046029254386353131L)
            & mask)
          var dup = false
          while (table(s) != Long.MinValue && !dup) {
            if (table(s) == v) dup = true else s = (s + 1) & mask
          }
          if (!dup) { table(s) = v; live += 1 }
        }
      }
      i += 1
    }
    var c = 0
    val nl = large.numElements()
    var j = 0
    while (j < nl && (live > 0 || smallHasNull || hasMinValue)) {
      if (large.isNullAt(j)) {
        if (smallHasNull) { c += 1; smallHasNull = false }
      } else {
        val v = large.getLong(j)
        if (v == Long.MinValue) {
          if (hasMinValue) { c += 1; hasMinValue = false }
        } else {
          var s = (java.lang.Long.hashCode(v * -7046029254386353131L)
            & mask)
          var break = false
          while (!break) {
            if (table(s) == Long.MinValue) break = true
            else if (table(s) == v) {
              // tombstone: rehash the probe cluster after removal so
              // linear probing stays sound
              table(s) = Long.MinValue
              live -= 1
              c += 1
              var t = (s + 1) & mask
              while (table(t) != Long.MinValue) {
                val w = table(t)
                table(t) = Long.MinValue
                var u = (java.lang.Long.hashCode(
                  w * -7046029254386353131L) & mask)
                while (table(u) != Long.MinValue) u = (u + 1) & mask
                table(u) = w
                t = (t + 1) & mask
              }
              break = true
            } else s = (s + 1) & mask
          }
        }
      }
      j += 1
    }
    c
  }
}
