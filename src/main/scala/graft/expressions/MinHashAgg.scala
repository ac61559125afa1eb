package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash sketch as a custom `TypedImperativeAggregate` — the
  * mergeable-sketch form of `DedupComposed.lshBandSignatures`'s
  * per-permutation `min` aggregates.
  *
  * Same hash basis as the DataFrame path (chunked md5 — see
  * `DedupComposed.minhashChunk` — lowercase hex, lexicographic min), so
  * signatures are value-identical to the composed-built-ins pipeline
  * (asserted in MinHashAggSpec) and to the DuckDB oracle's SQL.
  *
  * Why an imperative aggregate when `min` composes: each input row is
  * hashed once per permutation *inside* `update` and only the
  * numHashes running minima travel — one buffer per group in partial
  * aggregation instead of numHashes independent min columns — and
  * `merge` makes the sketch usable where composition isn't available:
  * streaming state, `Dataset.reduce`-style folds, sketch unions
  * across corpus shards.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[String]]
  with org.apache.spark.sql.graftbridge.StringInputTypes {

  require(numHashes > 0 && numHashes <= 512)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[String] =
    new Array[String](numHashes)

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  private def hexMd5(s: String): String = {
    val d = md5.digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  override def update(buf: Array[String], input: InternalRow): Array[String] = {
    val v = child.eval(input)
    if (v != null) {
      val shingle = v.asInstanceOf[UTF8String].toString
      // chunked-md5 basis, identical to DedupComposed.minhashChunk: permutation
      // h = 8-hex-char slice h%4 of digest "<h/4>|<shingle>"
      val nDigests = (numHashes + 3) / 4
      val digests = new Array[String](nDigests)
      var d = 0
      while (d < nDigests) { digests(d) = hexMd5(s"$d|$shingle"); d += 1 }
      var h = 0
      while (h < numHashes) {
        val hx = digests(h / 4).substring((h % 4) * 8, (h % 4) * 8 + 8)
        if (buf(h) == null || hx.compareTo(buf(h)) < 0) buf(h) = hx
        h += 1
      }
    }
    buf
  }

  override def merge(b1: Array[String], b2: Array[String]): Array[String] = {
    var h = 0
    while (h < numHashes) {
      if (b1(h) == null || (b2(h) != null && b2(h).compareTo(b1(h)) < 0))
        b1(h) = b2(h)
      h += 1
    }
    b1
  }

  override def eval(buf: Array[String]): Any =
    if (buf(0) == null) null
    else new GenericArrayData(
      buf.map(s => UTF8String.fromString(s): Any))

  override def serialize(buf: Array[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { s =>
      out.writeBoolean(s != null)
      if (s != null) out.writeUTF(s)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n)(if (in.readBoolean()) in.readUTF() else null)
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}
