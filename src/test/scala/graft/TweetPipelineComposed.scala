package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Pinned
import graft.ml.TweetPipeline

/** Executable spec of [[graft.ml.TweetPipeline.featurize]]: the fitted
  * spark.ml Pipeline it replaced, kept verbatim for the parity spec.
  * The prep is persisted for the StringIndexer, CountVectorizer and
  * IDF fits and the transform, then freed.
  */
object TweetPipelineComposed {

  /** M5/M3/M4/M6/M7 — the fitted feature Pipeline, stage order as in
    * `LogisticRegression.py:86-91`.
    */
  def featurePipeline(): Pipeline = new Pipeline().setStages(Array(
    new StringIndexer().setInputCol("class").setOutputCol("label"),
    new CountVectorizer().setInputCol("filteredmore").setOutputCol("c_vec"),
    new IDF().setInputCol("c_vec").setOutputCol("tf_idf"),
    new VectorAssembler()
      .setInputCols(Array("tf_idf", "filtered_tokens"))
      .setOutputCol("features")))

  /** prep + fit + transform → (label, features), plus the fitted
    * CountVectorizer vocabulary. Returns a persisted, materialized
    * frame: the caller unpersists it.
    */
  def featurize(raw: DataFrame): (DataFrame, Array[String]) = {
    val prepared = TweetPipeline.prepare(raw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Pinned.withPinned(prepared) {
      val model = featurePipeline().fit(prepared)
      val out = model.transform(prepared)
        .select(col("label"), col("features"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        out.count()
        (out, model.stages(1).asInstanceOf[CountVectorizerModel].vocabulary)
      } catch { case e: Throwable => out.unpersist(); throw e }
    }
  }
}
