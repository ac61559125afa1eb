package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.IntegerType

/** LogLog rank of a hash remainder: `rho = (60 − p + 1) − bitlen(w)`
  * where `w` is the (60−p)-bit remainder of the engine-wide 60-bit
  * md5 slice after the `p` bucket bits are shifted off, and
  * `bitlen(0) = 0` — so `w = 0` yields the field-wide maximum rank,
  * exactly the `CASE WHEN w = 0` branch of the composed form.
  *
  * Exists for the same reason as every kernel in this package:
  * the composed form (`length(bin(w))`) allocates a binary-digit
  * STRING per row to measure its length — at 100 TB that is
  * gigabytes of transient garbage on the token hot path.
  * `Long.numberOfLeadingZeros` is a single JVM intrinsic (LZCNT),
  * allocation-free, inside whole-stage codegen. The DuckDB oracle
  * keeps mirroring the bin()-length form (t25/st12 — identical
  * semantics, proven by the parity spec across the full boundary
  * set and random longs, codegen and interpreted).
  */
case class LogLogRho(child: Expression, p: Int)
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.LongInputTypes {

  require(p >= 1 && p <= 20, s"LogLogRho: p must be in [1,20], got $p")

  override lazy val replacement: Expression =
    StaticInvoke(LogLogRhoImpl.getClass, IntegerType, "rho",
      Seq(child, Literal(60 - p + 1)), returnNullable = false)
  override def prettyName: String = "graft_loglog_rho"

  override protected def withNewChildInternal(
      newChild: Expression): LogLogRho = copy(child = newChild)
}

object LogLogRhoImpl {
  /** bitlen via the LZCNT intrinsic; bitlen(0) = 64 − 64 = 0, so the
    * zero remainder needs no special case. */
  def rho(w: Long, rhoMax: Int): Int =
    rhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w))
}
