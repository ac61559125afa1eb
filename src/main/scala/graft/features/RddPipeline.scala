package graft.features

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Csv
import graft.gd.SparseDoc
import graft.text.TextOps

/** Stack B featurization, end to end (SURVEY.md §3.2 prep):
  * CSV → RDD-flavor tokenize chain → top-K vocabulary → sparse
  * TF-IDF Dataset ready for the GD loop.
  *
  * No per-document shuffle (the reference runs flatMap-distinct-join-
  * groupByKey with both sides shuffled): the tokenized frame is
  * persisted and read by the vocabulary's top-K aggregate and by
  * [[TfIdf.transform]]'s single df pass; the ≤K-row vocabulary and
  * IDF table broadcast, and each document's sparse vector comes from
  * a per-row map, so `data` keeps the CSV scan's partitioning.
  * The featurized Dataset is persisted — the reference recomputes the
  * entire tokenize+TF-IDF lineage on every one of its 300 iterations
  * (SURVEY.md §2.10 R2).
  */
object RddPipeline {

  final case class Featurized(
      tokenized: DataFrame,       // (id, label, tokens) — persisted
      vocab: DataFrame,           // (word, cnt, id) — id = rank 0..K-1
      data: Dataset[SparseDoc]) { // persisted
    /** Document count, run as its own job only when a caller asks for
      * it (the SVM λ); read it before [[release]] or it recounts from
      * the CSV. */
    lazy val numberOfTweets: Long = tokenized.count()

    /** Free both persisted frames once training/eval is done — the
      * pin-release handle of this featurization (persist-backed, so
      * a late re-read silently recomputes rather than failing). */
    def release(): Unit = { tokenized.unpersist(); data.unpersist(); () }
  }

  /** (id, label, tokens) via the RDD-stack tokenizer chain
    * (`RDD_logisticregression.py:44-57,192`).
    */
  def tokenize(spark: SparkSession, csvPath: String): DataFrame =
    Csv.tweets(spark, csvPath).select(
      col("id"),
      col("class").as("label"),
      TextOps.rddTokens(col("text")).as("tokens"))

  /** Full featurization. `dictFilter` restricts the *dictionary* to
    * one class (RDD_NN.py:320-322 builds its 1000-word vocabulary
    * from disaster tweets only) while TF-IDF still runs over all docs.
    */
  def featurize(spark: SparkSession, csvPath: String, dim: Int = 10000,
                dictFilter: Option[String] = None): Featurized = {
    val toks = tokenize(spark, csvPath)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dictSource = dictFilter match {
      case Some(lbl) => toks.filter(col("label") === lbl)
      case None      => toks
    }
    val vocab = Vocabulary.topK(dictSource, "tokens", dim)
    val data = TfIdf.transform(toks, "id", "label", "tokens", vocab,
        dim, exactParity = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Featurized(toks, vocab, data)
  }

  /** Deterministic ~80/20 train/test split + pinned training layout
    * for the PINNED gate rows (m07) and their dump tool — shared so
    * the gate and the golden emitter cannot drift.
    *
    * Why not `randomSplit(seed)`: its assignment depends on the
    * partition layout of the input, and the featurized frame keeps
    * whatever partitioning its upstream scan had — the round-10
    * goldens were silently local[8]-only (VERDICT r10 §wrong). A hash
    * gate on the stable doc id ([[graft.operators.Splits.hashBucket]])
    * is a pure per-row expression: same rows in the same split on any
    * partitioning, core count, or cluster size — the 100 TB shape.
    * Exact RNG parity with the reference's seeded split is impossible
    * anyway (SURVEY §7), so determinism wins for the gate contract;
    * the reference-CLI mirrors in [[graft.apps.Apps]] keep
    * `randomSplit` for semantics parity.
    *
    * The training side is additionally repartitioned by id hash into
    * `parts` partitions and sorted by id within each, so the GD
    * seqOp's float-summation order is identical on every stack —
    * partition CONTENTS and ORDER no longer depend on the upstream
    * layout. (`parts` tracks data volume at scale, like the old
    * `coalesce(8)`; the extra shuffle moves ~6k sparse docs here.)
    * Remaining nondeterminism is only the driver-side merge arrival
    * order of `parts` partials — measured at ~1e-15 relative on the
    * final cost, absorbed by the gate's cost bands.
    */
  def gateSplit(data: Dataset[SparseDoc], parts: Int = 8)
      : (Dataset[SparseDoc], Dataset[SparseDoc]) = {
    val gate = graft.operators.Splits
      .hashBucket(col("id"), "m07-split", 100) < 80
    val tr = data.filter(gate)
      .repartition(parts, col("id"))
      .sortWithinPartitions(col("id"))
    (tr, data.filter(!gate))
  }

  /** Words for dictionary ids, driver-side (T2/P5:
    * `RDD_logisticregression.py:172`).
    */
  def wordsFor(vocab: DataFrame, ids: Seq[Int]): Seq[String] =
    vocab.filter(col("id").isin(ids: _*))
      .select(col("word")).collect().map(_.getString(0)).toSeq
}
