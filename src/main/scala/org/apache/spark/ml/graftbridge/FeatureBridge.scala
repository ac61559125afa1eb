package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.feature.IDFModel
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.mllib.{feature => oldfeature}
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.rdd.RDD
import org.apache.spark.util.collection.OpenHashMap

/** The two pieces of Stack A's feature fits that spark.ml keeps
  * package-private: `OpenHashMap`, whose iteration order fixes
  * CountVectorizer's vocabulary order among tied counts, is
  * `private[spark]`, and the `IDFModel` constructor is `private[ml]`.
  * Like `sql.graftbridge`, this one-file shim lives inside the
  * package tree so `graft.ml.TweetPipeline` can build the models from
  * its own aggregates.
  */
object FeatureBridge {

  /** CountVectorizer.fit's word-count lineage for the default
    * minDF/maxDF: per-document `OpenHashMap` counts, `reduceByKey`
    * with the default partitioner, `top(vocabSize)` by total count.
    * It also keeps each word's document frequency, which the lineage
    * sums anyway. CountVectorizer asks `top` for
    * min(distinct words, vocabSize) words and this for vocabSize: the
    * same words, which `top`'s stable per-partition sort and ordered
    * merge put in the same order, ties included. Across several
    * partitions that merge follows task completion, so the order among
    * tied counts is run-dependent there, in spark.ml and here alike.
    *
    * @return (word, total count, document frequency), vocabulary order
    */
  def topTerms(docs: RDD[Seq[String]], vocabSize: Int)
      : Array[(String, Long, Long)] =
    docs.flatMap { tokens =>
      val wc = new OpenHashMap[String, Long]
      tokens.foreach(w => wc.changeValue(w, 1L, _ + 1L))
      wc.map { case (word, count) => (word, (count, 1L)) }
    }.reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .top(vocabSize)(Ordering.by(_._2._1))
      .map { case (word, (count, df)) => (word, count, df) }

  /** The `IDFModel` that `IDF.fit` returns for default minDocFreq,
    * given each term's document frequency and the document count:
    * idf = ln((N + 1) / (df + 1)), computed as mllib's aggregator
    * does, and the same error on an empty corpus.
    */
  def idfModel(docFreq: Array[Long], numDocs: Long): IDFModel = {
    if (numDocs == 0L)
      throw new IllegalStateException("Haven't seen any document yet.")
    val idf = docFreq.map(df => math.log((numDocs + 1.0) / (df + 1.0)))
    new IDFModel(Identifiable.randomUID("idf"),
      new oldfeature.IDFModel(Vectors.dense(idf), docFreq, numDocs))
  }
}
