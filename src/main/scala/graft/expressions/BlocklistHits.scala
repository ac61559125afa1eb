package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{IntegerType, ObjectType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Number of blocklist entries occurring as substrings of `child` —
  * the multi-pattern gate every curation pipeline runs (C4's bad-words
  * filter, contamination phrase screens): one Aho–Corasick (1975)
  * sweep over the text no matter how many patterns, where the composed
  * form `size(filter(array(lits), p => contains(text, p)))` re-scans
  * the text once PER pattern (and interprets the lambda per element).
  *
  * Counts each pattern LIST ENTRY at most once (duplicate entries
  * count separately, exactly as the composed filter counts them —
  * parity in ExpressionSpec), so the result is "how many blocklist
  * entries appear", not total occurrences. Null text → null; matching
  * is on UTF-8 bytes, which equals string containment because UTF-8
  * is self-synchronizing (a valid pattern byte sequence cannot start
  * mid-codepoint).
  *
  * The automaton is built from the literal pattern list on first use
  * in each deserialized copy of the plan (sparse per-state transitions:
  * memory is O(total pattern bytes), no 256-wide rows, so a 100k-entry
  * phrase list is ~megabytes); early-exits the scan once every entry
  * has been seen.
  */
case class BlocklistHits(child: Expression, patterns: Seq[String])
    extends RuntimeReplaceable with UnaryLike[Expression]
    with org.apache.spark.sql.graftbridge.StringInputTypes {

  require(patterns.nonEmpty, "blocklist must be non-empty")
  require(patterns.forall(p => p != null && p.nonEmpty),
    "blocklist entries must be non-null and non-empty")

  override lazy val replacement: Expression =
    StaticInvoke(BlocklistHitsImpl.getClass, IntegerType, "count",
      Seq(child, Literal.fromObject(BlocklistPatterns(patterns),
        ObjectType(classOf[BlocklistPatterns]))),
      returnNullable = false)
  override def prettyName: String = "graft_blocklist_hits"

  override protected def withNewChildInternal(
      newChild: Expression): BlocklistHits = copy(child = newChild)
}

/** The pattern list as a state literal (see [[StopWords]]). */
final case class BlocklistPatterns(patterns: Seq[String]) {
  @transient lazy val automaton: AcAutomaton =
    new AcAutomaton(patterns.toArray)
  override def toString: String =
    s"BlocklistPatterns(${patterns.size} patterns)"
}

object BlocklistHitsImpl {
  def count(text: UTF8String, blocklist: BlocklistPatterns): Int =
    blocklist.automaton.countEntriesPresent(text.getBytes)
}

/** Aho–Corasick automaton over bytes with sparse transitions.
  *
  * States are trie nodes; `failTo` is the classic longest-proper-
  * suffix link, `dictTo` the nearest fail ancestor that ends at least
  * one pattern (so match reporting walks only output states). Per
  * state the outgoing edges live in a byte-sorted slice of
  * (edgeByte, edgeTo) located by `edgeStart`, probed by binary search
  * — O(log degree) per step, memory O(Σ|pattern|).
  */
final class AcAutomaton(patternStrs: Array[String]) extends Serializable {
  private val nPatterns = patternStrs.length

  // --- trie build (once per automaton) ---
  private val (edgeStart, edgeByte, edgeTo, failTo, dictTo, outStart,
    outIds) = {
    val pats = patternStrs.map(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val children = mutable.ArrayBuffer(
      mutable.SortedMap.empty[Byte, Int](Ordering.Byte))
    val ends = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
    pats.zipWithIndex.foreach { case (p, pid) =>
      var s = 0
      p.foreach { b =>
        s = children(s).getOrElse(b, {
          children += mutable.SortedMap.empty[Byte, Int](Ordering.Byte)
          ends += mutable.ArrayBuffer.empty[Int]
          children(s)(b) = children.length - 1
          children.length - 1
        })
      }
      ends(s) += pid
    }
    val n = children.length
    val fail = new Array[Int](n)
    val dict = new Array[Int](n)
    java.util.Arrays.fill(dict, -1)
    // BFS: fail of depth-1 nodes is root; children inherit via parent
    val queue = mutable.Queue.empty[Int]
    children(0).values.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      dict(s) = if (ends(fail(s)).nonEmpty) fail(s) else dict(fail(s))
      children(s).foreach { case (b, t) =>
        var f = fail(s)
        while (f != 0 && !children(f).contains(b)) f = fail(f)
        fail(t) = children(f).get(b) match {
          case Some(u) if u != t => u
          case _ => 0
        }
        queue.enqueue(t)
      }
    }
    // freeze to flat arrays
    val eStart = new Array[Int](n + 1)
    var m = 0
    var i = 0
    while (i < n) { eStart(i) = m; m += children(i).size; i += 1 }
    eStart(n) = m
    val eByte = new Array[Byte](m)
    val eTo = new Array[Int](m)
    i = 0
    while (i < n) {
      var j = eStart(i)
      children(i).foreach { case (b, t) => eByte(j) = b; eTo(j) = t; j += 1 }
      i += 1
    }
    val oStart = new Array[Int](n + 1)
    var k = 0
    i = 0
    while (i < n) { oStart(i) = k; k += ends(i).length; i += 1 }
    oStart(n) = k
    val oIds = new Array[Int](k)
    i = 0
    while (i < n) {
      var j = oStart(i)
      ends(i).foreach { pid => oIds(j) = pid; j += 1 }
      i += 1
    }
    (eStart, eByte, eTo, fail, dict, oStart, oIds)
  }

  /** (trie states, trie edges) — the automaton's memory is these two
    * plus the output lists, all flat primitive arrays. States ≤ total
    * pattern bytes + 1 and edges = states − 1 by trie construction;
    * asserted at 100k-entry scale in ExpressionSpec so the "O(pattern
    * bytes), no 256-wide rows" claim above is load-bearing, not
    * aspirational.
    */
  def sizeStats: (Int, Int) = (edgeStart.length - 1, edgeByte.length)

  private def step(state: Int, b: Byte): Int = {
    var s = state
    while (true) {
      val e = edgeFind(s, b)
      if (e >= 0) return edgeTo(e)
      if (s == 0) return 0
      s = failTo(s)
    }
    0
  }

  private def edgeFind(s: Int, b: Byte): Int = {
    var lo = edgeStart(s)
    var hi = edgeStart(s + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = edgeByte(mid)
      if (c == b) return mid
      else if (c < b) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  // Per-thread generation-stamped "seen" marks: a fresh boolean array
  // per ROW costs |patterns| bytes of allocation each row (50 GB of
  // churn for a 100k-entry list over 500k docs — measured 12 s vs the
  // 263-entry list's 4.2 s purely from that churn); stamping with a
  // per-row generation makes the scan allocation-free. One automaton
  // can serve several task threads (every task holding the same plan
  // object), so the scratch state is ThreadLocal, @transient and
  // rebuilt after deserialization.
  @transient private lazy val seenTL: ThreadLocal[Array[Int]] =
    new ThreadLocal[Array[Int]] {
      override def initialValue(): Array[Int] = new Array[Int](nPatterns)
    }
  @transient private lazy val genTL: ThreadLocal[Array[Int]] =
    new ThreadLocal[Array[Int]] {
      override def initialValue(): Array[Int] = new Array[Int](1)
    }

  /** How many pattern-list entries occur in `bytes` (each counted at
    * most once); early-exits when all are found.
    */
  def countEntriesPresent(bytes: Array[Byte]): Int = {
    val seen = seenTL.get()
    val genBox = genTL.get()
    if (genBox(0) == Int.MaxValue) { // stamp wrap: reset once per 2^31 rows
      java.util.Arrays.fill(seen, 0); genBox(0) = 0
    }
    genBox(0) += 1
    val gen = genBox(0)
    var found = 0
    var s = 0
    var i = 0
    while (i < bytes.length && found < nPatterns) {
      s = step(s, bytes(i))
      var t = if (outStart(s) != outStart(s + 1)) s else dictTo(s)
      while (t >= 0) {
        var j = outStart(t)
        while (j < outStart(t + 1)) {
          if (seen(outIds(j)) != gen) { seen(outIds(j)) = gen; found += 1 }
          j += 1
        }
        t = dictTo(t)
      }
      i += 1
    }
    found
  }
}
