package graft.features

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.gd.SparseDoc

/** Native TF-IDF (Stack B parity; SURVEY.md §2.3/§2.4 J1/J2/A4–A7).
  *
  * Reproduces the reference's exact semantics including the
  * binary-presence quirk (SURVEY.md §2.3 note): `get_tfArray` flatMaps
  * every occurrence but `distinct()`s `(word, (doc,label,len))` tuples
  * before counting, so TF(w,d) = 1[w∈d]/|d| — presence, not count.
  * `exactParity=false` computes the standard count(w,d)/|d|.
  *
  * IDF is the *unsmoothed* `ln(N/df)` (`RDD_logisticregression.py:98`),
  * not `ml.feature.IDF`'s `ln((N+1)/(df+1))`.
  *
  * Scale shape — one vocabulary collect, one aggregate, one narrow map:
  *  1. the ≤`dim`-row vocabulary is collected (bounded, checked) and
  *     broadcast as a word → id map (the reference shuffles both
  *     sides of a join against it);
  *  2. N and the per-id document frequency come from ONE pass over
  *     `docs`: each partition folds its rows into a dense
  *     `dim`+1-slot count array, and the driver merges O(dim) per
  *     partition — the shape of one GD iteration's reduce, replacing
  *     the reference's dense-vector `reduce` (A6) and any per-word
  *     shuffle;
  *  3. each document becomes its [[SparseDoc]] in a per-row map over
  *     the broadcast map and IDF table — no per-document shuffle.
  *
  * The relational formulation (explode → join → countDistinct →
  * groupBy(doc) + collect_list) lives in the test tree as the
  * executable spec; this transform is pinned to it at exact `Double`
  * equality.
  */
object TfIdf {

  /** A document's distinct vocabulary ids, ascending, with each id's
    * occurrence count — tokens outside the vocabulary (and null
    * tokens) are skipped.
    */
  private def hits(tokens: scala.collection.Seq[String],
      w2i: Map[String, Int]): (Array[Int], Array[Int]) = {
    val ids = tokens.iterator.flatMap(t =>
      if (t == null) None else w2i.get(t)).toArray
    java.util.Arrays.sort(ids)
    val uniq = new Array[Int](ids.length)
    val cnt = new Array[Int](ids.length)
    var u = -1
    var k = 0
    while (k < ids.length) {
      if (u < 0 || uniq(u) != ids(k)) { u += 1; uniq(u) = ids(k) }
      cnt(u) += 1
      k += 1
    }
    (java.util.Arrays.copyOf(uniq, u + 1), java.util.Arrays.copyOf(cnt, u + 1))
  }

  /** Featurize to sparse TF-IDF vectors, one per document with at
    * least one vocabulary hit; `indices` ascending.
    *
    * `idCol` is the document key (non-null and unique, as every
    * corpus here is). N counts every row of `docs`, including rows
    * whose tokens are null or miss the vocabulary.
    *
    * @param vocab output of [[Vocabulary.topK]] — (word, cnt, id),
    *   at most `dim` rows with distinct words and distinct ids in
    *   `[0, dim)`
    * @param labelCol label column; "1" maps to 1.0 and anything
    *   else to 0.0 (the reference compares strings: `x[1] == '1'`)
    */
  def transform(docs: DataFrame, idCol: String, labelCol: String,
      tokensCol: String, vocab: DataFrame, dim: Int,
      exactParity: Boolean = true): Dataset[SparseDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._

    // 1. vocabulary: a null word never matched the relational join
    val entries = vocab.select(col("word"), col("id"))
      .filter(col("word").isNotNull).limit(dim + 1)
      .as[(String, Int)].collect()
    val ids = entries.map(_._2)
    require(entries.length <= dim && ids.forall(id => id >= 0 && id < dim) &&
      ids.distinct.length == ids.length &&
      entries.map(_._1).distinct.length == ids.length,
      s"vocabulary must be at most $dim distinct words with distinct ids in [0, $dim)")
    val w2iB = spark.sparkContext.broadcast(entries.toMap)

    // 2. N (slot dim) and per-id df (slots 0..dim-1) in one pass
    val tokens = docs.select(col(tokensCol)).as[Seq[String]].rdd
    val counts =
      if (tokens.getNumPartitions == 0) new Array[Long](dim + 1)
      else tokens.mapPartitions { it =>
        val w2i = w2iB.value
        val acc = new Array[Long](dim + 1)
        it.foreach { toks =>
          acc(dim) += 1
          if (toks != null) hits(toks, w2i)._1.foreach(id => acc(id) += 1)
        }
        Iterator.single(acc)
      }.treeReduce { (a, b) =>
        var k = 0
        while (k <= dim) { a(k) += b(k); k += 1 }
        a
      }
    val n = counts(dim).toDouble
    // Spark's `log` is StrictMath.log; ids no document hits are never
    // read
    val idfB = spark.sparkContext.broadcast(Array.tabulate(dim)(id =>
      if (counts(id) == 0) 0.0 else StrictMath.log(n / counts(id).toDouble)))

    // 3. one SparseDoc per document with a vocabulary hit
    docs.select(
        col(idCol).cast("string").as("id"),
        when(col(labelCol) === "1", 1.0).otherwise(0.0).as("label"),
        col(tokensCol).as("tokens"))
      .as[(String, Double, Seq[String])]
      .mapPartitions { it =>
        val w2i = w2iB.value
        val idf = idfB.value
        it.flatMap { case (id, label, toks) =>
          if (toks == null) None
          else {
            val (idx, cnt) = hits(toks, w2i)
            if (idx.isEmpty) None
            else {
              val len = toks.length.toDouble
              val vals = Array.tabulate(idx.length) { k =>
                val w = if (exactParity) 1.0 else cnt(k).toDouble
                w / len * idf(idx(k))
              }
              Some(SparseDoc(id, label, idx, vals))
            }
          }
        }
      }
  }
}
