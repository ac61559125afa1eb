package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.features.{TfIdf, Vocabulary}
import graft.gd.SparseDoc

/** [[TfIdf.transform]] (vocabulary collect + one df aggregate + a
  * per-row map) pinned to its relational executable spec
  * [[TfIdfComposed]] at exact `Double` equality.
  */
class TfIdfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(ds: org.apache.spark.sql.Dataset[SparseDoc])
      : Map[String, (Double, Seq[Int], Seq[Double])] =
    ds.collect().map(d =>
      d.id -> ((d.label, d.indices.toSeq, d.values.toSeq))).toMap

  private def assertParity(docs: DataFrame, vocab: DataFrame, dim: Int,
      exactParity: Boolean): Map[String, (Double, Seq[Int], Seq[Double])] = {
    val got = rows(TfIdf.transform(docs, "id", "label", "tokens", vocab,
      dim, exactParity))
    val want = rows(TfIdfComposed.transform(docs, "id", "label",
      "tokens", vocab, exactParity))
    assert(got == want)
    got
  }

  // repeated tokens, out-of-vocabulary tokens, a doc with no
  // vocabulary hit, a null token array, an empty one and a null token
  private lazy val crafted: DataFrame = {
    import spark.implicits._
    Seq[(Long, String, Seq[String])](
      (1L, "1", Seq("a", "a", "b", "zz")),
      (2L, "0", Seq("b", "c", "c", "c")),
      (3L, "1", Seq("zz", "yy")),
      (4L, "0", null),
      (5L, "1", Seq()),
      (6L, "1", Seq("c", "a", null, "d")),
      (7L, "0", Seq("d", "e", "b", "a", "a")),
      (8L, "x", Seq("e", "e", "a"))
    ).toDF("id", "label", "tokens").repartition(3)
  }

  test("crafted corpus: parity and count TF equal the relational spec") {
    val vocab = Vocabulary.topK(crafted, "tokens", 4)
    for (exact <- Seq(true, false)) {
      val got = assertParity(crafted, vocab, 4, exact)
      // docs 3 (no hit), 4 (null tokens) and 5 (empty) are dropped
      assert(got.keySet == Set("1", "2", "6", "7", "8"))
      assert(got("8")._1 == 0.0 && got("1")._1 == 1.0)
    }
  }

  test("dictFilter shape: one-class vocabulary, df over every doc") {
    val vocab = Vocabulary.topK(
      crafted.filter(col("label") === "0"), "tokens", 3)
    for (exact <- Seq(true, false))
      assertParity(crafted, vocab, 3, exact)
  }

  test("seeded random corpora over several partitionings") {
    import spark.implicits._
    val words = (0 until 30).map(i => s"w$i")
    val rnd = new scala.util.Random(4242)
    val docs = (0 until 300).map { i =>
      val toks =
        if (rnd.nextInt(20) == 0) null
        else Seq.fill(rnd.nextInt(12))(words(
          math.min(rnd.nextInt(30), rnd.nextInt(30))))
      (i.toLong, if (rnd.nextBoolean()) "1" else "0", toks)
    }.toDF("id", "label", "tokens")
    for (parts <- Seq(1, 5)) {
      val d = docs.repartition(parts)
      val vocab = Vocabulary.topK(d, "tokens", 12)
      for (exact <- Seq(true, false))
        assertParity(d, vocab, 12, exact)
    }
  }

  test("vocabulary bounds are checked before any pass over docs") {
    import spark.implicits._
    def rejects(vocab: Seq[(String, Long, Int)], dim: Int): Boolean =
      intercept[IllegalArgumentException](
        TfIdf.transform(crafted, "id", "label", "tokens",
          vocab.toDF("word", "cnt", "id"), dim))
        .getMessage.contains("at most")
    assert(rejects(Seq(("a", 1L, 0), ("b", 1L, 1)), 1))  // too many words
    assert(rejects(Seq(("a", 1L, 0), ("b", 1L, 5)), 3))  // id out of range
    assert(rejects(Seq(("a", 1L, 1), ("b", 1L, 1)), 3))  // duplicate id
    assert(rejects(Seq(("a", 1L, 0), ("a", 1L, 1)), 3))  // duplicate word
  }
}
