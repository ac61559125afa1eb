package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit hash over a string's Unicode CODE POINTS — the cheap
  * hash basis of the production MinHash-LSH profile
  * (`DedupComposed.lshBandSignaturesFast`).
  *
  * Why FNV-1a and why code points: the fast profile needs a 64-bit
  * hash that (a) costs one multiply+xor per character instead of a
  * cryptographic digest, and (b) is EXACTLY reproducible by the DuckDB
  * oracle in pure SQL. xxhash64 (the round-6 basis) satisfies (a) but
  * not (b) — DuckDB has no xxhash64, which kept d05 rows-only. FNV-1a
  * is `h = (h ^ cp) * 0x100000001b3 (mod 2^64)` from offset basis
  * 0xcbf29ce484222325 — the oracle mirrors it with HUGEINT modular
  * arithmetic (the multiplier is 2^40 + 435, so one widening multiply
  * plus one shifted term, both far inside HUGEINT range). Defined over
  * code points, not UTF-8 bytes, because both engines index strings by
  * code point natively; for the hash-quality purposes of LSH the
  * domain choice is irrelevant.
  *
  * Codegen'd (a static JVM call inside whole-stage codegen), so the
  * corpus-side cost stays one fused scan pass like the md5 profile.
  */
case class Fnv64(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringInputTypes {

  override lazy val replacement: Expression =
    StaticInvoke(Fnv64Impl.getClass, LongType, "fnv1a64", Seq(child),
      returnNullable = false)
  override def prettyName: String = "graft_fnv64"

  override protected def withNewChildInternal(
      newChild: Expression): Fnv64 = copy(child = newChild)
}

object Fnv64Impl {
  /** Java long multiplication wraps mod 2^64 — exactly the FNV ring.
    *
    * The raw FNV state is finished with MurmurHash3's fmix64
    * avalanche. Raw FNV is NOT enough for multi-permutation MinHash:
    * the states for two prefixes `h1|s` / `h2|s` stay approximately
    * affine-related through the shared suffix (xor only perturbs low
    * bits; the multiply is common), so the 16 "permutations" produce
    * correlated orderings and LSH band recall collapses (measured
    * 0.66 on the planted fixture vs ≥0.95 required). fmix64's
    * xor-shift/multiply cascade decorrelates them; it is equally
    * mirrorable in oracle SQL (xor via 32-bit limbs, multiply via
    * widening limb products — all inside HUGEINT range).
    */
  def fnv1a64(s: UTF8String): Long = fnv1a64(s.toString)

  def fnv1a64(str: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h ^= cp
      h *= 0x100000001b3L
      i += Character.charCount(cp)
    }
    fmix64(h)
  }

  def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }
}
