package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.gd.SparseDoc

/** Executable spec of [[graft.features.TfIdf.transform]]: the
  * relational formulation it replaced, kept verbatim for the parity
  * spec. explode (in-row `array_distinct` first under exactParity) →
  * broadcast join against the vocabulary → `countDistinct` df per id
  * with N = `docs.count()` → join the IDF table → one
  * groupBy(doc_id, label) assembling each sparse vector with
  * `sort_array(collect_list(...))`.
  */
object TfIdfComposed {

  def transform(docs: DataFrame, idCol: String, labelCol: String,
      tokensCol: String, vocab: DataFrame,
      exactParity: Boolean = true): Dataset[SparseDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val withCnt =
      if (exactParity)
        docs.select(
          col(idCol).as("doc_id"),
          col(labelCol).as("label"),
          size(col(tokensCol)).as("len"),
          explode(array_distinct(col(tokensCol))).as("word"))
          .withColumn("w_cnt", lit(1L))
      else
        docs.select(
          col(idCol).as("doc_id"),
          col(labelCol).as("label"),
          size(col(tokensCol)).as("len"),
          explode(col(tokensCol)).as("word"))
          .groupBy("doc_id", "label", "len", "word")
          .agg(count(lit(1)).as("w_cnt"))
    val dwp =
      withCnt.join(broadcast(vocab.select(col("word"), col("id"))), "word")

    val n = docs.count().toDouble
    val idf = dwp.groupBy(col("id")).agg(
        countDistinct(col("doc_id")).as("df"))
      .select(col("id"), log(lit(n) / col("df").cast("double")).as("idf"))

    dwp.join(broadcast(idf), "id")
      .withColumn("tfidf",
        col("w_cnt").cast("double") / col("len").cast("double") *
          col("idf"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sort_array(collect_list(struct(col("id"), col("tfidf"))))
        .as("pairs"))
      .select(
        col("doc_id").cast("string").as("id"),
        when(col("label") === "1", 1.0).otherwise(0.0).as("label"),
        col("pairs.id").as("indices"),
        col("pairs.tfidf").as("values"))
      .as[SparseDoc]
  }
}
