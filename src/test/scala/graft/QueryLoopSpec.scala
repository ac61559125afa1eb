package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The per-query pin sweep that Bench, Verify and TimeQuery share
  * ([[QueryLoop]]): pins made before the loop is built survive every
  * query; a query's own persists and localCheckpoint blocks are gone
  * when the call returns — also when the query throws — along with
  * their cache-manager entries, and a crashed Verify query still
  * leaves its `__verify_error` sentinel.
  */
class QueryLoopSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cachedBlocks: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      .map(_.id).toSet

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")

  /** Every test starts from an empty store and an empty cache
    * manager (the session is shared with other suites), pins one
    * frame, then builds the loop. */
  private def loopWithOnePin(): (QueryLoop, Int) = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val keep = frame(10).persist()
    keep.count()
    val keepIds = pinned
    assert(keepIds.size == 1)
    (new QueryLoop(spark), keepIds.head)
  }

  /** What a query pins: one persisted frame and one localCheckpoint. */
  private def pinTwo(): Unit = {
    frame(20).persist().count()
    frame(30).localCheckpoint().count()
  }

  test("pins made before the loop survive; a query's own are swept") {
    val (loop, keepId) = loopWithOnePin()
    val n = loop.run { pinTwo(); pinned.size }
    assert(n == 3)
    assert(pinned == Set(keepId))
    assert(cachedBlocks == Set(keepId))
  }

  test("a plan one query persists is pinned again by the next") {
    val (loop, keepId) = loopWithOnePin()
    // no clearCache() between the runs: the sweep must drop the first
    // run's cache-manager entry, or the second persist is a no-op
    def pinsDuringRun(): Int =
      loop.run { frame(20).persist().count(); pinned.size }
    assert(pinsDuringRun() == 2)
    assert(pinsDuringRun() == 2)
    assert(pinned == Set(keepId))
    assert(cachedBlocks == Set(keepId))
  }

  test("time() materializes the query and sweeps what it pinned") {
    val (loop, keepId) = loopWithOnePin()
    val secs = loop.time { pinTwo(); frame(40).selectExpr("id * 2") }
    assert(secs > 0.0)
    assert(pinned == Set(keepId))
  }

  test("a query that throws is swept too") {
    val (loop, keepId) = loopWithOnePin()
    val e = intercept[IllegalStateException] {
      loop.run { pinTwo(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(pinned == Set(keepId))
    assert(cachedBlocks == Set(keepId))
  }

  test("Verify.dump: output written, crash gets the sentinel, both swept") {
    val (loop, keepId) = loopWithOnePin()
    val out = Files.createTempDirectory("query-loop-spec").toString
    Verify.dump(spark, loop, out, "ok") { pinTwo(); frame(5) }
    assert(pinned == Set(keepId))
    assert(spark.read.parquet(s"$out/ok").count() == 5L)
    Verify.dump(spark, loop, out, "crash") {
      pinTwo(); throw new IllegalStateException("boom")
    }
    assert(pinned == Set(keepId))
    val crashed = spark.read.parquet(s"$out/crash")
    assert(crashed.columns.toSeq == Seq("__verify_error"))
    assert(crashed.count() == 0L)
  }
}
