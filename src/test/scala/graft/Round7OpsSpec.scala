package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.queries.TemporalQueries

/** Unit contracts for the round-7 operators: the persisted IVF index
  * (build-once / query-many; e16) and the cohort-retention matrix
  * (q26). The DuckDB oracles prove engine parity on the corpus; these
  * prove the hand-computable semantics, the indexed≡in-flight
  * identity, and the partition-pruning plan shape.
  */
class Round7OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivfSearchIndexed ≡ ivfSearch on the same corpus + centroids") {
    val ctrs = Similarity.randomPlanes(8, 64, seed = 7L)
    val queries = emb.filter(col("vec_id") < 10)
    val inFlight = Similarity.ivfSearch(emb, queries, ctrs,
      k = 10, nProbe = 4).collect().map(_.toSeq).toSet
    val path = graft.core.IndexCache.newIndexDir("ivf-spec-")
    Similarity.ivfWriteIndex(emb, ctrs, path)
    val indexed = Similarity.ivfSearchIndexed(spark, path, queries,
      ctrs, k = 10, nProbe = 4).collect().map(_.toSeq).toSet
    assert(indexed == inFlight)
    assert(indexed.nonEmpty)
  }

  test("indexed probe prunes to the probed cells' partitions") {
    val ctrs = Similarity.randomPlanes(8, 64, seed = 7L)
    val path = graft.core.IndexCache.newIndexDir("ivf-spec-prune-")
    Similarity.ivfWriteIndex(emb, ctrs, path)
    // nProbe=1, one query → exactly one probed cell.
    val one = Similarity.ivfSearchIndexed(spark, path,
      emb.filter(col("vec_id") === 0), ctrs, k = 5, nProbe = 1)
    val scans = one.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    // the index scan must carry the cell predicate as a
    // PartitionFilter — a data filter would mean every cell
    // directory is read and filtered row-wise (with one probed cell
    // Catalyst folds the IN to an equality, so match either form)
    assert("PartitionFilters: \\[[^\\]]*cell".r
      .findFirstIn(scans).isDefined,
      s"no cell partition filter in index scan:\n$scans")
    val pushedSection = scans.split("PushedFilters").last
    assert(!pushedSection.takeWhile(_ != ']').contains("cell"),
      s"cell leaked into data filters:\n$scans")
    assert(one.count() === 5)
  }

  test("incrementalNearDups ≡ minhashLshPairsFast restricted to batch×index") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.shingles(docs, "doc_id",
      graft.text.TextOps.tokenize(col("text")))
    val full = DedupComposed.minhashLshPairsFast(sh, threshold = 0.5)
      .filter(col("a") < 100 && col("b") >= 100)
      .collect().map(_.toSeq).toSet
    val path = graft.core.IndexCache.newIndexDir("lsh-idx-spec-")
    NearDupIndexComposed.writeNearDupIndex(sh.filter(col("doc_id") >= 100), path)
    val inc = NearDupIndexComposed.incrementalNearDups(spark, path,
      sh.filter(col("doc_id") < 100), threshold = 0.5)
      .collect().map(_.toSeq).toSet
    assert(inc == full)
    assert(inc.nonEmpty,
      "fixture must contain at least one batch×index near-dup pair")
  }

  test("lloydStep: hand-computed fixed-point means, lowest-cell ties") {
    import spark.implicits._
    val ctrs = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val vecs = Seq(
      (0L, Seq(1.0f, 2.0f)),    // → cell 0
      (1L, Seq(3.0f, -2.0f)),   // → cell 0
      (2L, Seq(9.0f, 4.0f)),    // → cell 1
      (3L, Seq(5.0f, 0.0f))     // equidistant → lowest cell (0)
    ).toDF("vec_id", "embedding")
    val got = Similarity.lloydStep(vecs, col("embedding"), ctrs)
      .as[(Int, Int, Long, Double)].collect().toSet
    // cell 0 means: dims exactly representable → exact thirds of sums
    val q = 16777216.0
    def fx(xs: Double*): Double =
      xs.map(x => math.floor(x * q)).sum / xs.size / q
    assert(got == Set(
      (0, 0, 3L, fx(1.0, 3.0, 5.0)), (0, 1, 3L, fx(2.0, -2.0, 0.0)),
      (1, 0, 1L, fx(9.0)), (1, 1, 1L, fx(4.0))))
  }

  test("lloydStep is bit-reproducible across partitionings") {
    val ctrs = Similarity.randomPlanes(8, 64, seed = 7L)
    def run(parts: Int): Set[Seq[Any]] =
      Similarity.lloydStep(emb.repartition(parts), col("embedding"), ctrs)
        .collect().map(_.toSeq).toSet
    // float sums would reassociate across these; integer sums cannot
    assert(run(1) == run(7))
  }

  test("sortedNeighborhood: dense ranks and window-bounded candidates") {
    import spark.implicits._
    val docs = Seq(
      (10L, "aaa x"), (11L, "aab x"), (12L, "aac x"),
      (13L, "zzz x"), (14L, "aaa y")   // ties on prefix rank by id
    ).toDF("doc_id", "text")
    val ranked = Dedup.sortedNeighborhoodRanks(docs, "doc_id",
      substring(translate(col("text"), " ", ""), 1, 3))
    val ranks = ranked.as[(Long, Long)].collect().toMap
    // sort by (key, id): aaa→10, aaa→14, aab→11, aac→12, zzz→13
    assert(ranks == Map(10L -> 0L, 14L -> 1L, 11L -> 2L,
      12L -> 3L, 13L -> 4L))
    val cands = Dedup.sortedNeighborhoodCands(ranked, window = 2)
      .as[(Long, Long)].collect().toSet
    // adjacent ranks only, normalized (a < b); 12–13 adjacent too
    assert(cands == Set((10L, 14L), (11L, 14L), (11L, 12L), (12L, 13L)))
  }

  test("fuzzyKeyJoin: complete over sub/ins/del, excludes distance 2") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcd"),  // base
      (2L, "abed"),  // substitution → dist 1
      (3L, "abc"),   // deletion → dist 1
      (4L, "abcde"), // insertion → dist 1
      (5L, "abcd"),  // exact copy → dist 0
      (6L, "zzzz")   // far → absent
    ).toDF("doc_id", "k")
    val got = Dedup.fuzzyKeyJoin(docs, "doc_id", col("k"), maxLen = 5)
      .as[(Long, Long, Int)].collect().toSet
    // distance-2 pairs (2–3, 2–4, 3–4) and "zzzz" must be absent
    assert(got == Set(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (1L, 5L, 0),
      (2L, 5L, 1), (3L, 5L, 1), (4L, 5L, 1)))
  }

  test("d14 split-leakage pairs are exactly the split-straddling d03 pairs") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.shingles(docs, "doc_id",
      graft.text.TextOps.tokenize(col("text")))
    val pairs = DedupComposed.minhashLshPairs(sh, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val split = docs.select(col("doc_id"),
        graft.operators.Splits.splitName(
          graft.operators.Splits.hashBucket(col("doc_id"),
            "graft-split", 100), 80, 10).as("s"))
      .as[(Long, String)].collect().toMap
    val want = pairs.collect {
      case ((a, b), j) if split(a) != split(b) =>
        (a, b, j, split(a), split(b))
    }.toSet
    val got = graft.SparkEntry.queries("d14_split_leakage")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, String, String)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty, "fixture must contain straddling near-dups")
  }

  test("t17 CCNet buckets split each language into near-thirds") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("t17_ccnet_buckets")(
        spark, "/root/testdata/sf0.001")
      .groupBy(col("lang"), col("bucket")).count()
      .as[(String, String, Long)].collect()
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, bs) =>
      val total = bs.map(_._3).sum.toDouble
      val share = bs.map(b => b._2 -> b._3 / total).toMap
      Seq("head", "middle", "tail").foreach { b =>
        // exact tertiles up to score ties at the boundary
        assert(share.getOrElse(b, 0.0) > 0.2 &&
          share.getOrElse(b, 0.0) < 0.47,
          s"$lang/$b share ${share.getOrElse(b, 0.0)} not ~1/3")
      }
    }
  }

  test("epochUpsample: exact per-doc multiplicities, partition-stable") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    val factors = Seq("src0" -> 250, "src1" -> 100, "src2" -> 30)
    def mult(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Splits
        .epochUpsample(df, "doc_id", "source", "s7", factors, 80)
        .groupBy(col("doc_id")).count()
        .as[(Long, Long)].collect().toMap
    val m = mult(docs)
    // src0: 2 or 3 copies; src1: exactly 1; src2: 0 or 1 (0 ⇒ absent)
    (0L until 200L).foreach { i =>
      val c = m.getOrElse(i, 0L)
      (i % 4 : @unchecked) match {
        case 0 => assert(c == 2L || c == 3L, s"doc $i: $c")
        case 1 => assert(c == 1L, s"doc $i: $c")
        case 2 => assert(c == 0L || c == 1L, s"doc $i: $c")
        case 3 => assert(c == 0L || c == 1L, s"doc $i: $c")
      }
    }
    // fractional shares realized near their targets on 50 docs/source
    val src0Mean = (0L until 200L by 4).map(m(_)).sum / 50.0
    assert(src0Mean > 2.2 && src0Mean < 2.8, s"src0 mean $src0Mean")
    // copy indices are dense 0..c-1 per doc
    val copies = graft.operators.Splits
      .epochUpsample(docs, "doc_id", "source", "s7", factors, 80)
      .as[(Long, String, Int)].collect()
      .groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(_._3).sorted.toSeq }
    copies.foreach { case (id, cs) =>
      assert(cs == (0 until cs.size).toSeq, s"doc $id copies $cs") }
    // content-determinism: same multiplicities on any partitioning
    assert(mult(docs.repartition(13)) == m)
  }

  test("lloydFit: iteration 2 does not increase within-cluster SSE") {
    val ctrs0 = Similarity.randomPlanes(8, 64, seed = 7L)
    def sse(ctrs: Array[Array[Double]]): Double =
      emb.select(
          org.apache.spark.sql.functions.sum(
            SimilarityComposed.sqDistToNearest(
              col("embedding"), ctrs)).as("s"))
        .head().getDouble(0)
    val ctrs1 = Similarity.collectCentroids(
      Similarity.lloydStep(emb, col("embedding"), ctrs0))
    val ctrs2 = Similarity.collectCentroids(
      Similarity.lloydFit(emb, col("embedding"), ctrs0, iters = 2))
    assert(sse(ctrs1) <= sse(ctrs0) * 1.0000001)
    assert(sse(ctrs2) <= sse(ctrs1) * 1.0000001)
  }

  test("cohortRetention: hand-computed matrix on a planted fixture") {
    import spark.implicits._
    val DayMs = 86400000L
    // user 1 active days 0,1,3; user 2 days 1,3; user 3 day 3 only.
    val events = Seq(
      (1L, 0L * DayMs + 5), (1L, 1L * DayMs + 9), (1L, 3L * DayMs),
      (1L, 3L * DayMs + 77),                     // same day, no double count
      (2L, 1L * DayMs + 1), (2L, 3L * DayMs + 2),
      (3L, 3L * DayMs + 3)
    ).toDF("user_id", "t")
    val got = TemporalQueries.cohortRetention(events)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),  // cohort day-0 = user 1
      (1L, 0L, 1L), (1L, 2L, 1L),                // cohort day-1 = user 2
      (3L, 0L, 1L)))                             // cohort day-3 = user 3
  }
}
