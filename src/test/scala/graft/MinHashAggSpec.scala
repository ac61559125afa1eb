package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.text.TextOps

/** The TypedImperativeAggregate MinHash sketch must be value-identical
  * to the composed-built-ins path (same md5 basis), across partial
  * aggregation and merges (multi-partition input), and callable from
  * SQL via GraftExtensions.
  */
class MinHashAggSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
  }

  def shingles = {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.shingles(docs, "doc_id", TextOps.tokenize(col("text")))
      .repartition(7) // force partial-agg merges across partitions
  }

  test("sketch band signatures == composed-min band signatures") {
    val viaMin = DedupComposed.lshBandSignatures(shingles, 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val viaSketch = DedupComposed.lshBandSignaturesSketch(shingles, 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(viaSketch == viaMin)
    assert(viaMin.nonEmpty)
  }

  test("SQL: graft_minhash aggregates per group") {
    shingles.createOrReplaceTempView("sh")
    val rows = spark.sql(
      """SELECT doc_id, graft_minhash(shingle, 4) AS mh
         FROM sh GROUP BY doc_id""").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mh = r.getSeq[String](1)
      assert(mh.length == 4)
      assert(mh.forall(_.matches("[0-9a-f]{8}"))) // 32-bit chunks
    }
  }

  test("d21 calibration: est/k tracks exact jaccard within the binomial band") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = graft.operators.Dedup.shingles(docs, "doc_id",
      graft.text.TextOps.tokenize(col("text")))
    val out = graft.operators.Dedup
      .minhashCalibration(sh, numHashes = 16, minJaccard = 0.2)
      .collect()
      .map(r => (r.getDouble(2), r.getInt(3) / 16.0))
    assert(out.nonEmpty)
    // per-pair: |est − J| ≤ 4σ with σ = √(J(1−J)/16) ≤ 0.125 ⇒ ≤ 0.5
    // always; the informative check is the aggregate: ≥ 85% of pairs
    // inside 2σ-ish (0.25) and the mean bias is small
    val diffs = out.map { case (j, e) => math.abs(e - j) }
    assert(diffs.count(_ <= 0.25).toDouble / diffs.length >= 0.85,
      s"calibration spread: ${diffs.sorted.mkString(",")}")
    val bias = out.map { case (j, e) => e - j }.sum / out.length
    assert(math.abs(bias) <= 0.1, s"estimator bias $bias")
  }
}
