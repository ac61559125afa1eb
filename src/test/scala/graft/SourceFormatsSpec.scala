package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Csv

/** Source-format round-trips beyond parquet/CSV-read: JSON lines and
  * ORC carry the documents table bit-identically, and Spark's own CSV
  * writer round-trips the tweet corpus — including quoted multiline
  * tweets — through the same multiLine/escape reader options the
  * engine uses for the reference data.
  */
class SourceFormatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fingerprint(df: org.apache.spark.sql.DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head().getLong(0) // order-free, no overflow

  lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("JSON lines round-trip preserves rows and values") {
    val dir = java.nio.file.Files
      .createTempDirectory("json").toString + "/docs"
    docs.write.json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() === docs.count())
    assert(fingerprint(back) === fingerprint(docs))
  }

  test("ORC round-trip preserves rows and values") {
    val dir = java.nio.file.Files
      .createTempDirectory("orc").toString + "/docs"
    docs.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === docs.count())
    assert(fingerprint(back) === fingerprint(docs))
  }

  test("CSV write → multiLine read round-trips quoted multiline tweets") {
    val tweets = Csv.tweets(spark, Csv.TrainCsv)
    val dir = java.nio.file.Files
      .createTempDirectory("csv").toString + "/tweets"
    tweets.write.option("header", "true").option("escape", "\"")
      // the writer trims field whitespace by default — disable to
      // keep tweets byte-identical
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    val back = spark.read
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .schema(tweets.schema)
      .csv(dir)
    assert(back.count() === 7613L)
    assert(fingerprint(back) === fingerprint(tweets))
  }

  test("S4: inferSchema scan types numeric columns and agrees with the explicit-schema read") {
    val inf = SpecSupport.inferred(spark, Csv.TrainCsv)
    assert(inf.columns.toSeq ===
      Seq("id", "keyword", "location", "text", "target"))
    // inference types id/target numerically — exactly why the engine's
    // S1 reader pins an all-string schema (the reference keeps both as
    // strings); the demo variant must still parse every row
    assert(inf.schema("id").dataType.typeName === "integer")
    assert(inf.schema("target").dataType.typeName === "integer")
    assert(inf.count() === 7613L)
    // same rows, modulo the type coercion: cast back to string and
    // fingerprint against the pinned-schema reader's projection
    val tweets = Csv.tweets(spark, Csv.TrainCsv)
    val castBack = inf.select(col("id").cast("string"),
      col("text"), col("target").cast("string").as("class"))
    assert(fingerprint(castBack) === fingerprint(tweets))
  }
}
