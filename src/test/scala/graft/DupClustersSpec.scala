package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Adversarial convergence behavior of `Dedup.dupClusters`: min-label
  * propagation needs one round per hop of graph diameter (plus the
  * final no-change round the loop uses to detect a fixpoint, minus
  * the init round fused into label construction). Measured
  * rounds-vs-diameter on planted path graphs: a diameter-d chain
  * converges with `maxIters = d` and fails the `require` with
  * `maxIters = d - 1` — exactly linear, no constant slack. LSH dup
  * clusters are near-cliques (diameter ~2) so the default 25 is deep
  * headroom; a genuinely chainy graph trips the guard loudly instead
  * of returning half-merged clusters.
  */
class DupClustersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Path graph 0–1–2–…–n-1 (diameter n-1). */
  private def chain(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
  }

  test("diameter-5 chain: converges at maxIters = 5, fails at 4") {
    // localFinishRows = 0 forces the distributed propagation rounds
    // (the default bounded local finish would union-find this tiny
    // graph on the driver and never trip the round guard)
    val labels = Dedup.dupClusters(chain(6), maxIters = 5,
        localFinishRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 5L).toSet)
    assert(labels.values.toSet == Set(0L))

    val ex = intercept[IllegalArgumentException](
      Dedup.dupClusters(chain(6), maxIters = 4, localFinishRows = 0L))
    assert(ex.getMessage.contains("did not converge"))
  }

  test("diameter-25 chain converges within the default budget") {
    val labels = Dedup.dupClusters(chain(26), localFinishRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 25L).toSet)
    assert(labels.values.toSet == Set(0L))
  }

  test("diameter > maxIters fails loudly with the escape-hatch hint") {
    val ex = intercept[IllegalArgumentException](
      Dedup.dupClusters(chain(40), maxIters = 8, localFinishRows = 0L))
    assert(ex.getMessage.contains("dupClustersStar"))
  }

  test("star contraction: diameter-199 chain converges in O(log n) rounds") {
    // label propagation would need 199 rounds here; star contraction
    // lands well inside 15 (≈ log-squared bound, log₂ 200 ≈ 8).
    // localFinishRows = 0 forces the distributed rounds all the way
    // to the fixpoint — this test exists to cover them.
    val labels = Dedup.dupClustersStar(chain(200), maxIters = 15,
        localFinishRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to 199L).toSet)
    assert(labels.values.toSet == Set(0L))
  }

  test("star contraction ≡ label propagation on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rng.nextInt(200).toLong,
        rng.nextInt(200).toLong))
        .filter(e => e._1 != e._2).toDF("a", "b")
      val prop = Dedup.dupClusters(edges, localFinishRows = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // label propagation's own bounded local finish (the default
      // path at this size) must land on the identical relation
      val propLocal = Dedup.dupClusters(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(propLocal == prop, s"trial $trial dupClusters local finish diverged")
      // distributed rounds to the fixpoint…
      val star = Dedup.dupClustersStar(edges, localFinishRows = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(star == prop, s"trial $trial diverged")
      // …and the bounded driver union-find finish (default path for
      // small contracted graphs) must land on the identical relation
      val local = Dedup.dupClustersStar(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(local == prop, s"trial $trial local finish diverged")
    }
  }

  test("local finish engages mid-contraction: big graph shrinks below " +
      "the bound, result unchanged") {
    import spark.implicits._
    // 3 components of ~67 nodes each; 300 edges > bound 64, so at
    // least one distributed round runs before the union-find finish
    val rng = new scala.util.Random(7L)
    val edges = (0 until 300).map { i =>
      val c = i % 3
      (c * 1000L + rng.nextInt(67), c * 1000L + rng.nextInt(67))
    }.filter(e => e._1 != e._2).toDF("a", "b")
    val prop = Dedup.dupClusters(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val mixed = Dedup.dupClustersStar(edges, localFinishRows = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(mixed == prop)
  }

  test("self-pair-only nodes come back as singletons from both algorithms") {
    import spark.implicits._
    // node 7 appears ONLY in a self-pair; 0-1 is a real edge; 3's
    // self-pair coexists with its real edge to 4
    val edges = Seq((0L, 1L), (7L, 7L), (3L, 3L), (3L, 4L)).toDF("a", "b")
    val prop = Dedup.dupClusters(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val propDist = Dedup.dupClusters(edges, localFinishRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(propDist == prop, "self-pair handling diverged local vs distributed")
    val star = Dedup.dupClustersStar(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(star == prop, "self-pair handling diverged between algorithms")
    assert(prop.contains((7L, 7L)), "singleton 7 must survive")
    assert(prop.toMap.apply(4L) == 3L)
  }

  test("resolveClusters keeps the best-quality member, ties to min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cluster {0,1,2}: quality 5,9,9 → keeper 1 (tie 1 vs 2 → min id)
    // cluster {10,11}: quality 3,7 → keeper 11
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (10L, 10L),
      (11L, 10L)).toDF("doc_id", "cluster_id")
    val q = Seq((0L, 5L), (1L, 9L), (2L, 9L), (10L, 3L), (11L, 7L))
      .toDF("doc_id", "quality")
    val kept = Dedup.resolveClusters(clusters, q)
      .filter(col("kept")).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(kept == Set(1L, 11L))
  }

  test("resolveDuplicates passes unclustered docs through untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    // pairs merge {1,2} and {3,4}; 5 and 6 are never in a pair
    val docs = Seq((1L, "short"), (2L, "a much longer text"),
      (3L, "mid text"), (4L, "tiny"), (5L, "loner"), (6L, "alone"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val kept = DedupComposed.resolveDuplicates(docs, "doc_id", pairs,
      length(col("text")))
      .select(col("doc_id")).as[Long].collect().toSet
    // keepers: 2 (longer than 1), 3 (longer than 4); 5,6 untouched
    assert(kept == Set(2L, 3L, 5L, 6L))
  }

  test("two chains + an isolated pair keep distinct min labels") {
    import spark.implicits._
    // components: {0..4} (path), {10..14} (path), {20,21}
    val edges = ((0 until 4).map(i => (i.toLong, (i + 1).toLong)) ++
      (10 until 14).map(i => (i.toLong, (i + 1).toLong)) ++
      Seq((20L, 21L))).toDF("a", "b")
    val labels = Dedup.dupClusters(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(labels(_) == 0L))
    assert((10L to 14L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
  }

  /** Driver-side reference of centralityFixedPoint's exact integer
    * recurrence (same Q40 scale, same truncating divisions).
    */
  private def naiveCentrality(pairs: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val scale = 1L << 40
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val deg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val n = deg.size.toLong
    val base = (scale * 15L / 100L) / n
    var r = deg.map { case (k, _) => k -> scale / n }
    for (_ <- 1 to iters) {
      val s = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = deg.map { case (k, _) => k -> (base + 85L * s(k) / 100L) }
    }
    r
  }

  test("centralityFixedPoint: hand-computed path graph, symmetry, " +
      "naive-reference parity on random graphs, partition-stable") {
    import spark.implicits._
    // path a(1)-b(2)-c(3): ends symmetric, middle strictly higher
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Dedup.centralityFixedPoint(path, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=3, init=2^40/3=366503875925, base=(2^40*15/100)/3=54975581388;
    // end: base + 85*(366503875925 div 2) div 100 = 210739728655
    // mid: base + 85*(2*366503875925) div 100 = 678032170460
    assert(got(1L) == 210739728655L && got(3L) == 210739728655L)
    assert(got(2L) == 678032170460L)

    // random graphs: exact parity with the driver-side recurrence
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val nNodes = 20 + trial * 10
      val pairs = (1 to 60).map { _ =>
        val x = rnd.nextInt(nNodes).toLong
        val y = rnd.nextInt(nNodes).toLong
        if (x < y) (x, y) else (y, x + nNodes) // keep a < b, no loops
      }.distinct
      val df = pairs.toDF("a", "b")
      val exp = naiveCentrality(pairs, 5)
      val spk = Dedup.centralityFixedPoint(df, 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(spk == exp, s"trial $trial diverged from the reference")
      // the distributed Pregel path (forced) must match bit-for-bit —
      // integer Q40 arithmetic is order-independent
      val dist = Dedup.centralityFixedPoint(df, 5, localFinishRows = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == exp, s"trial $trial distributed path diverged")
      // integer arithmetic ⇒ identical under any partitioning
      val spk7 = Dedup.centralityFixedPoint(df.repartition(7), 5,
          localFinishRows = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(spk7 == exp)
    }
  }
}
