package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Checkpoints, Csv, Pinned}
import graft.ml.TweetPipeline
import graft.operators.{Dedup, Quantiles}

/** The pin-release contract (core/Pinned): operators that pin
  * executor storage internally either free it themselves (loan) or
  * hand the caller a release handle (lease) — and release actually
  * returns the session to zero pinned RDDs. This is the 100 TB
  * long-lived-session guarantee: a loop of operator calls holds
  * bounded storage without relying on a harness sweep.
  */
class PinnedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pinnedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  /** The suite shares its session with every other suite in the run,
    * so other suites' cached frames (and the async ContextCleaner
    * collecting them mid-test) would make a start-of-test snapshot
    * unstable. Each test therefore baselines at ZERO: blocking-sweep
    * every pinned RDD first (safe — persist-backed frames silently
    * recompute), then assert against an empty store.
    */
  private def sweepToZero(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(pinnedCount == 0)
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark and scale"),
      (4L, "the quick brown fox jumps over the very lazy dog again and again"),
      (5L, "one more unrelated row of text for padding the corpus")
    ).toDF("doc_id", "text")
  }

  test("withPinned frees the loaned frames on success AND on failure") {
    sweepToZero()
    val df = docs.persist()
    Pinned.withPinned(df) { df.count() }
    assert(pinnedCount == 0, "success path left pins behind")
    val df2 = docs.persist()
    intercept[RuntimeException] {
      Pinned.withPinned(df2) { df2.count(); throw new RuntimeException("x") }
    }
    assert(pinnedCount == 0, "failure path left pins behind")
  }

  test("Pinned.unpin frees BOTH cache entries and localCheckpoint blocks") {
    sweepToZero()
    val cached = docs.persist()
    cached.count()
    val cp = docs.select(col("doc_id")).localCheckpoint()
    assert(pinnedCount > 0)
    Pinned.unpin(cached); Pinned.unpin(cp)
    assert(pinnedCount == 0)
  }

  test("Quantiles.exactPercentilesLeased: same values as the plain " +
      "form; release() returns the session to zero new pins") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i % 3, (i * 7 % 101).toDouble))
      .toDF("g", "v")
    val plain = SpecSupport
      .exactPercentiles(df, "g", "v", Seq(0.25, 0.5, 0.9))
      .collect().map(r => (r.getInt(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    // free the plain form's pins via the documented sweep contract,
    // which also zeroes the baseline for the leased run
    sweepToZero()
    val leased = Quantiles
      .exactPercentilesLeased(df, "g", "v", Seq(0.25, 0.5, 0.9))
    val got = leased.df.collect()
      .map(r => (r.getInt(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got == plain)
    assert(pinnedCount > 0, "lease should hold pins until release")
    leased.release()
    assert(pinnedCount == 0, "release() left pins behind")
  }

  test("Dedup.prefixFilterPairsLeased and sortedNeighborhoodPairsSetsLeased: " +
      "plain-form results, zero pins after release") {
    sweepToZero()
    val sh = Dedup.shingles(docs, "doc_id",
      graft.text.TextOps.tokenize(col("text")))
    val l1 = Dedup.prefixFilterPairsLeased(sh, 0.5)
    val pairs = l1.consume(_.collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet)
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)))
    assert(pinnedCount == 0, "prefixFilterPairsLeased leaked")

    val l2 = Dedup.sortedNeighborhoodPairsSetsLeased(docs, "doc_id",
      col("text"), graft.text.TextOps.tokenize(col("text")),
      window = 4, threshold = 0.5)
    val snm = l2.consume(_.count())
    assert(snm >= 1)
    assert(pinnedCount == 0, "sortedNeighborhoodPairsSetsLeased leaked")
  }

  test("dupClusters result is checkpoint-backed and Checkpoints.release " +
      "frees it (documented caller contract)") {
    import spark.implicits._
    sweepToZero()
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Dedup.dupClusters(pairs)
    val rows = out.collect()
    assert(rows.nonEmpty)
    Checkpoints.release(out)
    assert(pinnedCount == 0, "release(result) left checkpoint blocks")
  }

  test("TweetPipeline.featurize pins only the frame it returns; " +
      "unpersist or a failure leaves nothing") {
    sweepToZero()
    def cacheEntries = CacheBridge.cachedPlans(spark).size
    val before = cacheEntries
    def tweets(name: String, classes: Seq[String]) = {
      val p = java.nio.file.Files.createTempFile(name, ".csv")
      p.toFile.deleteOnExit()
      java.nio.file.Files.write(p, ("id,keyword,location,text,target" +:
        classes.zipWithIndex.map { case (c, i) =>
          s"$i,,,\"fire storm  number $i\",$c" })
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      Csv.tweets(spark, p.toString)
    }
    val out = TweetPipeline.featurize(tweets("pins", Seq("0", "1", "0")))
    assert(out.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cacheEntries == before + 1, "a cache entry besides the result")
    assert(pinnedCount == 1, "an RDD persisted besides the result")
    assert(out.count() == 3L)
    out.unpersist(blocking = true)
    assert(cacheEntries == before && pinnedCount == 0)
    // StringIndexer rejects the null class while the result is built
    intercept[Exception](
      TweetPipeline.featurize(tweets("pins-null", Seq("0", "", "1"))))
    assert(cacheEntries == before, "a failed featurize left a cache entry")
    assert(pinnedCount == 0, "a failed featurize left pins behind")
  }
}
