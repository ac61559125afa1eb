package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{TopKAgg, TopKBuffer}
import graft.operators.Similarity

/** Unit coverage for the bounded top-k aggregate that replaced the
  * per-query `row_number` window in the ANN brute scans: ordering
  * semantics must be EXACTLY `row_number() over (order by score
  * [asc|desc], id asc)` so the oracle hashes of e01/e13/e11/e14/e15
  * are unchanged by construction.
  */
class TopKAggSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def heapSorted(k: Int, asc: Boolean,
      xs: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    val b = new TopKBuffer(k, asc)
    xs.foreach { case (s, i) => b.insert(s, i) }
    b.sorted.toSeq
  }

  test("buffer keeps the k best with window-identical ordering") {
    val xs = Seq((0.5, 3L), (0.9, 1L), (0.5, 2L), (0.1, 4L), (0.9, 5L))
    // desc: 0.9 ties break by smaller id first
    assert(heapSorted(3, asc = false, xs) ==
      Seq((0.9, 1L), (0.9, 5L), (0.5, 2L)))
    // asc: smallest first, ties by id
    assert(heapSorted(3, asc = true, xs) ==
      Seq((0.1, 4L), (0.5, 2L), (0.5, 3L)))
  }

  test("double total order: NaN ranks greatest, -0.0 below 0.0") {
    val xs = Seq((Double.NaN, 1L), (1.0, 2L), (-0.0, 3L), (0.0, 4L))
    // asc: NaN is the WORST (greatest) — same as Spark's sort order
    assert(heapSorted(3, asc = true, xs) ==
      Seq((-0.0, 3L), (0.0, 4L), (1.0, 2L)))
    // desc: NaN is the best, like `orderBy(desc)` puts NaN first
    assert(heapSorted(2, asc = false, xs).map(_._2) == Seq(1L, 2L))
  }

  test("merge of partial buffers ≡ single-pass insert; serde round-trips") {
    val rng = new scala.util.Random(7)
    val xs = Seq.fill(500)((rng.nextInt(50).toDouble, rng.nextLong().abs))
    val (l, r) = xs.splitAt(250)
    val all = new TopKBuffer(10, true)
    xs.foreach { case (s, i) => all.insert(s, i) }
    import org.apache.spark.sql.graftbridge.ColumnBridge.expression
    val agg = TopKAgg(expression(lit(0)), expression(lit(0L)), 10,
      scoreAsc = true)
    val b1 = new TopKBuffer(10, true)
    l.foreach { case (s, i) => b1.insert(s, i) }
    val b2 = new TopKBuffer(10, true)
    r.foreach { case (s, i) => b2.insert(s, i) }
    val merged = agg.merge(b1, agg.deserialize(agg.serialize(b2)))
    assert(merged.sorted.toSeq == all.sorted.toSeq)
  }

  test("huge k ranks everything without preallocating k slots") {
    val xs = (1L to 100L).map(i => (i.toDouble, i))
    val got = heapSorted(1000000, asc = true, scala.util.Random.shuffle(xs))
    assert(got == xs)
  }

  test("DataFrame path matches the row_number window bit-for-bit") {
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.bruteForceKnn(
      emb, emb.filter(col("vec_id") < 5), k = 7)
    // reference: the window form this aggregate replaced
    val q = broadcast(emb.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec")).filter(col("q_id") < 5))
    val scored = emb.select(col("vec_id").as("n_id"),
        col("embedding").as("n_vec"))
      .join(q, col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        SimilarityComposed.cosine(col("q_vec"), col("n_vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    val ref = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7)
    val gotRows = got.as[(Long, Long, Double, Int)].collect().toSet
    val refRows = ref.as[(Long, Long, Double, Int)].collect().toSet
    assert(gotRows == refRows)
  }
}
