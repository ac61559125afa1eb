package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
  * `TypedImperativeAggregate`: a `depth × width` grid of counters;
  * row r increments cell `h_r(item) mod width`, and the point
  * estimate for an item is the MIN over its `depth` cells — always an
  * OVER-estimate, within ε·n of exact with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉. Merge is element-wise addition,
  * so partial aggregation works across arbitrary partitionings and
  * the final grid is partition-order INDEPENDENT (integer sums
  * commute) — unlike [[MisraGriesAgg]]'s counters, the whole sketch
  * itself is deterministic and can be hash-verified by an oracle.
  *
  * Two row-hash profiles, both oracle-mirrored (the d05 MinHash
  * discipline):
  *  - default (`fnvProfile = false`): the engine-portable md5-chunk
  *    trick (`DedupComposed.minhashChunk` lineage): cell of
  *    item x in row r = first 8 hex chars of md5("r|x") parsed as a
  *    32-bit int, mod width — mirrored verbatim in DuckDB as
  *    `CAST(('0x' || substring(md5(r || '|' || x), 1, 8)) AS BIGINT)
  *    % width`.
  *  - fast (`fnvProfile = true`): the production profile —
  *    floorMod(fmix64(fnv1a64("r|x")), width) via [[Fnv64Impl]], one
  *    multiply+xor per character instead of a full md5 digest per
  *    (row, token); mirrored in DuckDB through
  *    [[graft.queries.FnvSql]]'s HUGEINT limb arithmetic (gate row
  *    t24), so the cheap profile is hash-verified too, not
  *    rows-only.
  *
  * Buffer is O(depth·width) longs regardless of input size or
  * cardinality — the constant-memory frequency table at 100 TB
  * (~17 MB at the ε=1e-5 operating point: width ⌈e/ε⌉ ≈ 272k ×
  * depth 8 × 8 B; the validated 2²⁴-width corner is 128 MiB per
  * row of depth). Output: the row-major flattened grid
  * `array<bigint>` of depth·width cells.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    fnvProfile: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.graftbridge.StringInputTypes {

  require(depth >= 1 && depth <= 16,
    s"graft_countmin needs 1 <= depth <= 16, got $depth")
  require(width >= 2 && width <= (1 << 24),
    s"graft_countmin needs 2 <= width <= 2^24, got $width")
  // serialized form is depth*width*8 bytes in ONE byte array, so the
  // cell count must stay under 2^28 (checked in Long math — depth 16
  // × width 2^24 alone would put length*8 past Int.MaxValue and make
  // every spill/shuffle of the buffer throw)
  require(depth.toLong * width <= (1L << 27),
    s"graft_countmin grid too large to serialize: depth*width = " +
      s"${depth.toLong * width} cells > 2^27 (${(1L << 27)})")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (fnvProfile) "graft_countmin_fnv" else "graft_countmin"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      var r = 0
      if (fnvProfile) {
        while (r < depth) {
          buf(r * width + CountMinAgg.cellFast(r, item, width)) += 1L
          r += 1
        }
      } else {
        while (r < depth) {
          buf(r * width + CountMinAgg.cell(r, item, width)) += 1L
          r += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    // exact-size allocation (safe: the require above bounds
    // buf.length*8 ≤ 2^30), no stream doubling/copy
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.asLongBuffer().put(buf)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](depth * width)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}

object CountMinAgg {
  /** Row-r cell of `item`: first 8 md5 hex chars of "r|item" as a
    * 32-bit unsigned int, mod width. Oracle-mirrored (see class doc).
    */
  def cell(r: Int, item: String, width: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$r|$item".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u32 % width).toInt
  }

  /** Fast-profile row-r cell of `item`:
    * floorMod(fmix64(fnv1a64("r|item")), width) — one multiply+xor
    * per character ([[Fnv64Impl]]) instead of an md5 digest per
    * (row, item). Oracle-mirrored via [[graft.queries.FnvSql]].
    */
  def cellFast(r: Int, item: String, width: Int): Int =
    java.lang.Math.floorMod(Fnv64Impl.fnv1a64(s"$r|$item"), width)
}
