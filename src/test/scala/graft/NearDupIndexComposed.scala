package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Executable spec of [[Dedup.writeNearDupIndexSets]] and
  * [[Dedup.incrementalNearDupsSets]]: the persisted near-dup index
  * built from exploded (doc_id, shingle) rows, with band signatures
  * from the [[DedupComposed.lshBandSignaturesFast]] group-by, and the probe
  * that re-reads its three tables on every call. The sets path must
  * return the same relation (DedupSimilaritySpec), and this one is
  * exactly [[DedupComposed.minhashLshPairsFast]] restricted to batch×index
  * pairs (Round7OpsSpec).
  */
object NearDupIndexComposed {

  def writeNearDupIndex(sh: DataFrame, path: String,
                        numHashes: Int = 16,
                        rowsPerBand: Int = 4): Unit = {
    DedupComposed.lshBandSignaturesFast(sh, numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/bands")
    sh.write.mode("overwrite").parquet(s"$path/shingles")
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/sizes")
  }

  /** Id spaces must be disjoint, batch ids below index ids, to keep
    * the a<b pair convention.
    */
  def incrementalNearDups(spark: SparkSession, path: String,
                          newSh: DataFrame, numHashes: Int = 16,
                          rowsPerBand: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val idxBands = spark.read.parquet(s"$path/bands")
    val newBands = DedupComposed.lshBandSignaturesFast(newSh, numHashes, rowsPerBand)
    val cands = newBands.as("x").join(idxBands.as("y"),
        col("x.b") === col("y.b") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val idxSh = spark.read.parquet(s"$path/shingles")
    val sizes = newSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .unionByName(spark.read.parquet(s"$path/sizes"))
    val inter = cands
      .join(newSh.as("nx"), col("a") === col("nx.doc_id"))
      .join(idxSh.as("ny"), col("b") === col("ny.doc_id") &&
        col("nx.shingle") === col("ny.shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
    Dedup.scoreJaccard(inter, sizes, threshold)
  }
}
