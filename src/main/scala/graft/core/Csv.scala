package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Native CSV source (SURVEY.md §2.1 S1/S4, §1.3).
  *
  * The reference falls back to driver-side pandas because plain
  * `spark.read.csv` breaks on tweets containing embedded newlines
  * inside quoted fields (`LogisticRegression.py:46-57`). Spark handles
  * those correctly with `multiLine` + RFC-4180 `escape="\""` (so `""`
  * inside a quoted field is a literal quote) — no driver bottleneck,
  * and at 100 TB the read parallelizes per file (multiLine files are
  * not splittable within a file, so large corpora should arrive as
  * many files — which is how they arrive anyway).
  *
  * All columns are read as strings: the reference deliberately types
  * `id` and the 0/1 `target` as strings (SURVEY.md §1.2).
  */
object Csv {

  /** Full Kaggle train.csv/test.csv column set, all strings. */
  val rawTweetSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("keyword", StringType, nullable = true),
    StructField("location", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("target", StringType, nullable = true)))

  /** The 3-column frame every reference script starts from:
    * (id, text, class) — `LogisticRegression.py:50-57`.
    */
  def tweets(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(rawTweetSchema)
      .csv(path)
      .select(col("id"), col("text"), col("target").as("class"))

  /** Location of the reference's training data — overridable via
    * SPARK_GRAFT_TRAIN_CSV so bench/verify run on hosts without the
    * reference mount.
    */
  val TrainCsv: String = sys.env.getOrElse("SPARK_GRAFT_TRAIN_CSV",
    "/root/reference/nlp-getting-started/train.csv")
}
