package graft

import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core.IndexCache
import graft.operators.{Dedup, Similarity}

/** What one served request costs, and that the open-once index reads
  * (`core.IndexCache`) behind [[Similarity.ivfSearchIndexed]] and
  * [[Dedup.incrementalNearDupsSets]] stay correct: a warm request runs
  * a pinned number of Spark jobs and no parquet schema read, the
  * near-dup probe never moves index rows through an exchange, and a
  * cached read follows overwrites, deletes and its cache bound.
  */
class LookupCostSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def sets(docs: DataFrame) = Dedup.shingleSets(docs, "doc_id",
    graft.text.TextOps.tokenize(col("text")))
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private def docSets = sets(docs)
  private val made = scala.collection.mutable.Buffer.empty[Path]
  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    made += p
    p.toString
  }

  override def afterAll(): Unit =
    try made.filter(Files.exists(_)).foreach(deleteTree) finally super.afterAll()

  // the bench's lookup shape: 16 cells, 2 probed, 8 queries; 32 hashes
  // in bands of 4, a 16-doc batch
  private val ctrs = Similarity.randomPlanes(16, 64, seed = 7L)
  private def queries = emb.filter(col("vec_id") < 8)
  private def search(path: String, c: Array[Array[Double]] = ctrs,
                     q: DataFrame = queries) =
    Similarity.ivfSearchIndexed(spark, path, q, c, k = 10, nProbe = 2)
  private def probe(path: String, batch: DataFrame) =
    Dedup.incrementalNearDupsSets(spark, path, batch, 32, 4)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
  private def fields(df: DataFrame) =
    df.schema.map(f => (f.name, f.dataType))

  /** The stage names of each Spark job `body` starts. */
  private def jobs(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.map(_.name).mkString(","))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerDrain(sc)
      seen.toArray(Array.empty[String]).toSeq
    } finally sc.removeSparkListener(l)
  }

  /** Jobs started by `DataFrameReader.parquet`: the schema read of a
    * path (Spark names them "parquet at <caller>").
    */
  private def schemaReads(js: Seq[String]) =
    js.filter(_.startsWith("parquet at"))

  private lazy val ivfPath = {
    val p = tmp("lookup-cost-ivf-")
    Similarity.ivfWriteIndex(emb, ctrs, p)
    p
  }

  private lazy val ndPath = {
    val p = tmp("lookup-cost-nd-")
    Dedup.writeNearDupIndexSets(docSets.filter(col("doc_id") >= 100),
      p, 32, 4)
    p
  }

  test("a warm IVF search is 3 jobs and reads no parquet schema") {
    ivfPath
    val cold = jobs(search(ivfPath).collect())
    assert(schemaReads(cold).size == 1, cold.mkString("\n"))
    val warm = jobs(search(ivfPath).collect())
    // the query collect, the top-k's map stage and its result
    assert(warm.size == 3, warm.mkString("\n"))
    assert(schemaReads(warm).isEmpty, warm.mkString("\n"))
  }

  test("a warm near-dup probe is 6 jobs and reads no parquet schema") {
    val batch = docSets.filter(col("doc_id") < 16)
    ndPath
    val cold = jobs(probe(ndPath, batch).collect())
    assert(schemaReads(cold).size == 2, cold.mkString("\n"))
    val warm = jobs(probe(ndPath, batch).collect())
    // the batch bands' broadcast; the candidate pairs' map stage and
    // broadcast; the batch shingles' broadcast; the verify's map stage
    // and result
    assert(warm.size == 6, warm.mkString("\n"))
    assert(schemaReads(warm).isEmpty, warm.mkString("\n"))
  }

  test("the near-dup probe never shuffles or broadcasts index rows") {
    val res = probe(ndPath, docSets.filter(col("doc_id") < 16))
    res.collect()
    val plan = res.queryExecution.executedPlan
    def unwrap(p: SparkPlan) = p match {
      case w: WholeStageCodegenExec => w.child
      case c => c
    }
    val exchanged = collect(plan) {
      case e: ShuffleExchangeExec => unwrap(e.child)
      case e: BroadcastExchangeExec => unwrap(e.child)
    }
    def readsIndex(p: SparkPlan) = collect(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains(ndPath)) => s
    }.nonEmpty
    // the index is scanned only below aggregates: every exchange over
    // index rows carries aggregated (batch, index) pairs, and the three
    // broadcasts are the candidates and the batch's bands and shingles
    assert(exchanged.nonEmpty && exchanged.forall(c =>
      c.isInstanceOf[HashAggregateExec] || !readsIndex(c)), plan.toString)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.size == 3,
      plan.toString)
  }

  test("short docs and null ids in a batch give the reference pairs") {
    val text = docs.filter(col("doc_id") === 120).select(col("text"))
      .head().getString(0)
    val extra = spark.createDataFrame(java.util.Arrays.asList(
        Row(90L, "two words"), Row(91L, "one"), Row(92L, ""),
        Row(93L, text), Row(null, text)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    val batch = docs.filter(col("doc_id") < 16)
      .select(col("doc_id").cast("long"), col("text")).unionByName(extra)
    val ref = tmp("lookup-cost-nd-ref-")
    val sh = Dedup.shingles(docs, "doc_id",
      graft.text.TextOps.tokenize(col("text")))
    NearDupIndexComposed.writeNearDupIndex(sh.filter(col("doc_id") >= 100),
      ref, 32, 4)
    val want = rows(NearDupIndexComposed.incrementalNearDups(spark, ref,
      Dedup.shingles(batch, "doc_id",
        graft.text.TextOps.tokenize(col("text"))), 32, 4))
    assert(want.map(r => (r(0).toString, r(1).toString))
      .contains(("93", "120")), want)
    assert(rows(probe(ndPath, sets(batch))) == want)
  }

  test("an overwritten IVF index serves its new contents") {
    val path = tmp("lookup-cost-ivf-ow-")
    Similarity.ivfWriteIndex(emb, ctrs, path)
    assert(rows(search(path)) == rows(Similarity.ivfSearch(emb, queries,
      ctrs, k = 10, nProbe = 2)))
    val other = Similarity.randomPlanes(16, 64, seed = 11L)
    Similarity.ivfWriteIndex(emb, other, path)
    val fresh = rows(Similarity.ivfSearch(emb, queries, other, k = 10,
      nProbe = 2))
    assert(rows(search(path, other)) == fresh)
    // a writer that bypasses ivfWriteIndex: swap in another directory;
    // the root's modification time moves, so the handle reopens
    val staged = tmp("lookup-cost-ivf-staged-")
    Similarity.ivfWriteIndex(emb, ctrs, staged)
    deleteTree(Path.of(path))
    Files.move(Path.of(staged), Path.of(path))
    assert(rows(search(path)) == rows(Similarity.ivfSearch(emb, queries,
      ctrs, k = 10, nProbe = 2)))
  }

  test("an overwritten near-dup index serves its new contents") {
    val path = tmp("lookup-cost-nd-ow-")
    val batch = docSets.filter(col("doc_id") < 100)
    val sh = Dedup.shingles(docs, "doc_id", graft.text.TextOps.tokenize(col("text")))
    def fresh(keep: org.apache.spark.sql.Column) = {
      val ref = tmp("lookup-cost-nd-ref-")
      NearDupIndexComposed.writeNearDupIndex(sh.filter(keep), ref, 32, 4)
      rows(NearDupIndexComposed.incrementalNearDups(spark, ref,
        sh.filter(col("doc_id") < 100), 32, 4))
    }
    val all = col("doc_id") >= 100
    val half = col("doc_id") >= 100 && col("doc_id") % 2 === 0
    Dedup.writeNearDupIndexSets(docSets.filter(all), path, 32, 4)
    val first = rows(probe(path, batch))
    assert(first == fresh(all) && first.nonEmpty)
    Dedup.writeNearDupIndexSets(docSets.filter(half), path, 32, 4)
    val second = rows(probe(path, batch))
    assert(second == fresh(half))
    assert(second != first, "the two indexes must differ for this check")
  }

  test("a deleted index path drops its cached read") {
    val path = tmp("lookup-cost-ivf-del-")
    Similarity.ivfWriteIndex(emb, ctrs, path)
    search(path).collect()
    assert(IndexCache.holds(spark, path))
    deleteTree(Path.of(path))
    intercept[AnalysisException](search(path))
    assert(!IndexCache.holds(spark, path))
  }

  test("the index read cache never holds more than its bound") {
    val paths = (0 until IndexCache.MaxEntries + 2).map { i =>
      val p = tmp(s"lookup-cost-ivf-lru-$i-")
      Similarity.ivfWriteIndex(emb, ctrs, p)
      search(p).collect()
      assert(IndexCache.size <= IndexCache.MaxEntries)
      p
    }
    assert(!IndexCache.holds(spark, paths.head))
    assert(paths.takeRight(IndexCache.MaxEntries)
      .forall(IndexCache.holds(spark, _)))
    // an evicted index reopens and still answers
    assert(rows(search(paths.head)) == rows(search(ivfPath)))
  }

  test("an empty request returns an empty result with the usual schema") {
    val none = emb.filter(col("vec_id") < 0)
    val ivf = search(ivfPath, q = none)
    assert(ivf.collect().isEmpty)
    assert(fields(ivf) == fields(search(ivfPath)))
    val nd = probe(ndPath, docSets.filter(col("doc_id") < 0))
    assert(nd.collect().isEmpty)
    assert(fields(nd) == fields(probe(ndPath,
      docSets.filter(col("doc_id") < 16))))
  }

  test("index and table gate rows leave no directory in the temp dir") {
    val tmpDir = Path.of(System.getProperty("java.io.tmpdir"))
    def indexDirs(): Set[String] = {
      val ls = Files.list(tmpDir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft-(?:.*-idx|bk2?|ly|c07|c09|c13)-.*")).toSet
      finally ls.close()
    }
    val before = indexDirs()
    // every row that writes an index or a re-laid-out table first
    val rows = Seq("d12_incremental_neardup", "e16_ivf_persisted",
      "bk01_bucketed_join", "bk02_bucketed_agg",
      "ly01_partition_pruned_scan", "ly02_zorder_scan",
      "ly03_compacted_scan", "ly05_evolved_scan",
      "c07_schema_evolution", "c09_incremental_rollup",
      "c13_observed_ingest")
    val results = rows.map(q => q -> graft.SparkEntry.queries(q)(spark, sf))
    // each row returns a lazy result over its files: read it only now
    val counts = results.map { case (q, df) => q -> df.collect().length }
    assert(counts.toMap.apply("e16_ivf_persisted") > 0)
    assert(indexDirs() -- before == Set.empty)
  }

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.delete(_))
    finally walk.close()
  }
}
