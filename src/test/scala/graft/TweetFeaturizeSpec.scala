package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Csv
import graft.ml.TweetPipeline

/** [[TweetPipeline.featurize]] (two passes plus the library's models)
  * pinned to the fitted spark.ml Pipeline it replaced,
  * [[TweetPipelineComposed]]. At one partition, the reference CSV's
  * and the bench's layout, the vocabulary, the (label, features) rows
  * in order and the column metadata must be equal. At three, spark.ml's
  * own order among tied counts follows task completion, so the count
  * sequence and the rows read by word are compared instead.
  */
class TweetFeaturizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir = {
    val d = Files.createTempDirectory("tweet-featurize")
    d.toFile.deleteOnExit()
    d
  }

  /** A tweet CSV in the reference's shape; a null class is an empty
    * field. */
  private def writeCsv(name: String, rows: Seq[(String, String)]): String = {
    def quote(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    val body = rows.zipWithIndex.map { case ((text, cls), i) =>
      s"$i,,,${quote(text)},${Option(cls).getOrElse("")}"
    }
    val p = dir.resolve(s"$name.csv")
    Files.write(p, ("id,keyword,location,text,target" +: body)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p.toFile.deleteOnExit()
    p.toString
  }

  // "fire" is in every document (idf 0, dropped by the assembler);
  // "a  b" runs give "" tokens; counts tie at 1, 2 and 3 in orders
  // unlike first appearance; classes "2" and "1" tie at 3 rows below
  // "0"'s 4
  private lazy val craftedRows: Seq[(String, String)] = Seq(
    ("Fire  flood quake storm", "2"),
    ("storm FIRE   ash", "0"),
    ("fire dust  ash smoke #tag http://x.co/a", "1"),
    ("fire quake flood smoke zeal", "0"),
    ("fire ash, dust!! yard", "2"),
    ("fire @user lol haha", "0"),
    ("fire storm quake dust\nsecond line", "1"),
    ("fire zeal \"quoted\" yard", "2"),
    ("fire smoke flood", "0"),
    ("fire the and of a", "1"))

  private lazy val crafted: DataFrame =
    Csv.tweets(spark, writeCsv("crafted", craftedRows))

  // the same plus a document the stop lists leave without a token
  private lazy val craftedEmptyDoc: DataFrame =
    Csv.tweets(spark, writeCsv("crafted-empty-doc",
      craftedRows :+ ("lol the haha", "1")))

  /** `n` seeded tweets over a skewed 40-word vocabulary with stop
    * words and double spaces. */
  private def randomRows(seed: Int, n: Int, classes: Int)
      : Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until 40).map(i =>
      s"q${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
    val extra = Seq("the", "lol", "and", "", "")
    (0 until n).map { _ =>
      val toks = words(rnd.nextInt(40)) +: Seq.fill(rnd.nextInt(9))(
        if (rnd.nextInt(6) == 0) extra(rnd.nextInt(extra.size))
        else words(math.min(rnd.nextInt(40), rnd.nextInt(40))))
      val cls = math.min(rnd.nextInt(classes), rnd.nextInt(classes))
      (toks.mkString(" "), cls.toString)
    }
  }

  private def bits(v: Vector): (String, Int, Seq[Int], Seq[Long]) = v match {
    case s: SparseVector => ("sparse", s.size, s.indices.toSeq,
      s.values.toSeq.map(java.lang.Double.doubleToRawLongBits))
    case d: DenseVector => ("dense", d.size, d.values.indices,
      d.values.toSeq.map(java.lang.Double.doubleToRawLongBits))
  }

  private def rows(df: DataFrame): Seq[(Long, (String, Int, Seq[Int], Seq[Long]))] =
    df.collect().toSeq.map(r => (java.lang.Double.doubleToRawLongBits(
      r.getDouble(0)), bits(r.getAs[Vector](1))))

  private def vocabOf(models: Seq[org.apache.spark.ml.Transformer]) =
    models(1).asInstanceOf[CountVectorizerModel].vocabulary

  /** One-partition parity: vocabulary, rows in order, metadata. */
  private def assertExact(raw: DataFrame): Array[String] = {
    assert(raw.rdd.getNumPartitions == 1)
    val (want, wantVocab) = TweetPipelineComposed.featurize(raw)
    val got = TweetPipeline.featurize(raw)
    try {
      val gotVocab = vocabOf(
        TweetPipeline.featureModels(TweetPipeline.prepare(raw)))
      assert(gotVocab.toSeq == wantVocab.toSeq)
      assert(rows(got) == rows(want))
      assert(got.schema == want.schema)
      for (c <- Seq("label", "features"))
        assert(got.schema(c).metadata == want.schema(c).metadata, c)
      gotVocab
    } finally { got.unpersist(); want.unpersist() }
  }

  private def wordCounts(raw: DataFrame): Map[String, Long] =
    TweetPipeline.prepare(raw).select(explode(col("filteredmore")))
      .collect().groupMapReduce(_.getString(0))(_ => 1L)(_ + _)

  /** Multi-partition parity: the same words with the same count
    * sequence, and the same rows once each feature index is read as
    * its word. */
  private def assertByWord(raw: DataFrame): Unit = {
    val (want, wantVocab) = TweetPipelineComposed.featurize(raw)
    val prepared = TweetPipeline.prepare(raw)
    val models = TweetPipeline.featureModels(prepared)
    val gotVocab = vocabOf(models)
    val got = TweetPipeline.materialize(prepared, models)
    try {
      val counts = wordCounts(raw)
      assert(gotVocab.toSet == wantVocab.toSet)
      assert(gotVocab.toSeq.map(counts) == wantVocab.toSeq.map(counts))
      // the rows as a multiset: a repartitioned input's row order
      // differs between evaluations
      def byWord(df: DataFrame, vocab: Array[String]) =
        df.collect().toSeq.map { case Row(label: Double, v: Vector) =>
          val s = v.toSparse
          (label, s.indices.zip(s.values).map { case (i, x) =>
            (if (i < vocab.length) vocab(i) else "#filtered_tokens") ->
              java.lang.Double.doubleToRawLongBits(x)
          }.sorted.toSeq)
        }.sortBy(_.toString)
      assert(byWord(got, gotVocab) == byWord(want, wantVocab))
      assert(got.schema == want.schema)
      for (c <- Seq("label", "features"))
        assert(got.schema(c).metadata == want.schema(c).metadata, c)
    } finally { got.unpersist(); want.unpersist() }
  }

  test("crafted corpus at one partition: vocabulary, rows and " +
      "metadata equal the fitted pipeline's") {
    val vocab = assertExact(crafted)
    // the corpus exercises what it claims to
    val counts = wordCounts(crafted)
    assert(vocab.contains("") && vocab.contains("fire"))
    assert(counts("fire") == craftedRows.size)
    for (c <- Seq(1L, 2L, 3L))
      assert(counts.values.count(_ == c) >= 2, s"no tie at count $c")
    val f = TweetPipeline.featurize(crafted)
    try {
      val labels = org.apache.spark.ml.attribute.Attribute
        .fromStructField(f.schema("label"))
        .asInstanceOf[org.apache.spark.ml.attribute.NominalAttribute]
      assert(labels.values.get.toSeq == Seq("0", "1", "2"))
      // "fire" never survives the assembler
      val fire = vocab.indexOf("fire")
      assert(f.collect().forall(
        r => !r.getAs[Vector](1).toSparse.indices.contains(fire)))
    } finally f.unpersist()
    assertExact(craftedEmptyDoc)
    val g = TweetPipeline.featurize(craftedEmptyDoc)
    try assert(g.collect().exists(_.getAs[Vector](1).numNonzeros == 0))
    finally g.unpersist()
  }

  test("seeded random corpora at one partition equal the fitted pipeline") {
    for ((seed, classes) <- Seq((11, 2), (12, 2), (13, 3))) {
      val raw = Csv.tweets(spark,
        writeCsv(s"random$seed", randomRows(seed, 400, classes)))
      assertExact(raw)
    }
  }

  test("three partitions: same count sequence and rows read by word") {
    assertByWord(crafted.repartition(3))
    assertByWord(craftedEmptyDoc.repartition(3))
    for (seed <- Seq(21, 22)) {
      val raw = Csv.tweets(spark,
        writeCsv(s"random$seed", randomRows(seed, 400, 3)))
      assertByWord(raw.repartition(3))
    }
  }

  test("an empty corpus fails as the fitted pipeline does") {
    val raw = Csv.tweets(spark, writeCsv("empty", Seq.empty))
    val want = intercept[Exception](TweetPipelineComposed.featurize(raw))
    val got = intercept[Exception](TweetPipeline.featurize(raw))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
  }

  test("source audit: src/main fits no StringIndexer, CountVectorizer " +
      "or IDF and builds no second feature pipeline") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"src/main not found under $root")
    val rules: Seq[(String, scala.util.matching.Regex)] = Seq(
      "an estimator whose fit this path replaces" ->
        """\bnew\s+(?:\w+\.)*(?:StringIndexer|CountVectorizer|IDF)\b(?!Model)""".r,
      "the fitted pipeline" -> """\bfeaturePipeline\b""".r)
    def offences(f: Path): Seq[String] =
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.flatMap {
        case (line, i) => rules.collect {
          case (what, re) if re.findFirstIn(line).isDefined =>
            s"${root.relativize(f)}:${i + 1}: $what: ${line.trim}"
        }
      }
    val found = files.flatMap(offences)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
