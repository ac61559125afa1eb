package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.core.LocalFinish
import graft.gd._
import graft.operators.{Bpe, Dedup}
import graft.text.TextOps

/** The bounded-local-finish policy ([[LocalFinish]]): each bound at
  * its boundary, the override of 0, `Double` work past `Long.MaxValue`,
  * the six sites on empty input under both the default and the
  * override of 0, a source audit that keeps the budget in one file,
  * and one that keeps the trainers' loop in `gd/FullBatch.scala`.
  */
class LocalFinishSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import LocalFinish.{MaxBytes, MaxRows, MaxWork, fits}

  test("rows bound: MaxRows fits, one more row does not; the override " +
      "replaces it") {
    assert(fits(MaxRows, 0.0, 1L))
    assert(!fits(MaxRows + 1, 0.0, 1L))
    assert(fits(64L, 0.0, 1L, maxRows = 64L))
    assert(!fits(65L, 0.0, 1L, maxRows = 64L))
  }

  test("bytes bound: MaxBytes fits, the next double does not") {
    assert(fits(1L, MaxBytes, 1L))
    assert(!fits(1L, math.nextUp(MaxBytes), 1L))
  }

  test("Bpe's vocabulary bytes: 160 B a row plus 2 B a char, at the " +
      "MaxBytes boundary") {
    assert(Bpe.localBytes(0L, 0.0) == 0.0)
    assert(Bpe.localBytes(3L, 10.0) == 500.0)
    // 2^18 words of 48 chars take exactly MaxBytes
    val rows = 1L << 18
    assert(Bpe.localBytes(rows, 48.0 * rows) == MaxBytes)
    assert(fits(rows, Bpe.localBytes(rows, 48.0 * rows), 1L))
    assert(!fits(rows, Bpe.localBytes(rows, 48.0 * rows + 1.0), 1L))
    // MaxRows words of 8 chars: 8 MiB of UTF-8, but 176 MiB of heap
    assert(!fits(MaxRows, Bpe.localBytes(MaxRows, 8.0 * MaxRows), 1L))
  }

  test("work bound: rows × rounds = MaxWork fits, one more round does " +
      "not") {
    val maxWork = MaxWork.toLong
    assert(fits(1L, 0.0, maxWork))
    assert(!fits(1L, 0.0, maxWork + 1))
    assert(fits(1024L, 0.0, maxWork / 1024))
    assert(!fits(1024L, 0.0, maxWork / 1024 + 1))
    // a loop that runs zero rounds still visits its rows once
    assert(fits(maxWork, 0.0, 0L, maxRows = maxWork))
    assert(!fits(maxWork + 1, 0.0, 0L, maxRows = maxWork + 1))
  }

  test("override 0 forces the distributed path, empty state included") {
    assert(!LocalFinish.enabled(0L))
    assert(!fits(0L, 0.0, 1L, maxRows = 0L))
    assert(!fits(1L, 1.0, 1L, maxRows = 0L))
    assert(LocalFinish.enabled(1L) && fits(0L, 0.0, 1L, maxRows = 1L))
  }

  test("work past Long.MaxValue is refused instead of wrapping") {
    // each Long product wraps to a value a Long gate would let through
    val (rows, rounds) = (1L << 40, 1L << 30)
    assert(rows * rounds == 0L)
    assert(!fits(rows, 0.0, rounds, maxRows = Long.MaxValue))
    val (bigRows, merges) = (Long.MaxValue / 2 + 1, 2L)
    assert(bigRows * merges < 0L)
    assert(!fits(bigRows, 0.0, merges, maxRows = Long.MaxValue))
  }

  /** Runs `site` with the default bound and with the override of 0:
    * both must return the same value or throw the same error.
    */
  private def samePathResult[A](tag: String)(site: Long => A): Unit = {
    def attempt(maxRows: Long): Either[String, A] =
      try Right(site(maxRows)) catch {
        case e: IllegalArgumentException => Left(e.getMessage)
      }
    val dflt = attempt(MaxRows)
    assert(dflt == attempt(0L), s"$tag: default vs override 0")
  }

  private def emptyPairs: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("a", "b")
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("GD and NN on an empty training set: same result on both paths") {
    import spark.implicits._
    val ds = spark.createDataset(Seq.empty[SparseDoc]).repartition(3)
    val gdCfg = GradientDescent.Config(iterations = 3, learningRate = 0.1)
    samePathResult("gd") { m =>
      val r = GradientDescent.run(ds, 8, LogisticLoss, gdCfg, m)
      (r.coef.toSeq, r.costs.toSeq)
    }
    val nnCfg = TwoLayerNet.Config(nIn = 8, nHidden = 4, nOut = 2,
      iterations = 2, learningRate = 0.01, seed = 1L)
    samePathResult("nn") { m =>
      val r = TwoLayerNet.train(ds, nnCfg, localFinishRows = m)
      r.costs.toSeq
    }
    val e = intercept[IllegalArgumentException](
      TwoLayerNet.train(ds, nnCfg, localFinishRows = 0L))
    assert(e.getMessage.contains("empty training set"))
  }

  test("BPE and the three Dedup loops on empty input: same result on " +
      "both paths") {
    import spark.implicits._
    val docs = Seq.empty[String].toDF("text")
    samePathResult("bpe") { m =>
      Bpe.trainMerges(docs, TextOps.tokenize(col("text")), 4,
        localFinishRows = m)
    }
    assert(Bpe.trainMerges(docs, TextOps.tokenize(col("text")), 4,
      localFinishRows = 0L).isEmpty)
    samePathResult("dupClusters") { m =>
      rows(Dedup.dupClusters(emptyPairs, localFinishRows = m))
    }
    samePathResult("dupClustersStar") { m =>
      rows(Dedup.dupClustersStar(emptyPairs, localFinishRows = m))
    }
    assert(rows(Dedup.dupClustersStar(emptyPairs,
      localFinishRows = 0L)).isEmpty)
    samePathResult("centrality") { m =>
      rows(Dedup.centralityFixedPoint(emptyPairs, 3, localFinishRows = m))
    }
    val e = intercept[IllegalArgumentException](
      Dedup.centralityFixedPoint(emptyPairs, 3, localFinishRows = 0L))
    assert(e.getMessage.contains("non-empty pair graph"))
  }

  test("source audit: no other src/main file declares a local-finish " +
      "bound or hard-codes the budget") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val own = root.resolve(Paths.get("graft", "core", "LocalFinish.scala"))
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).filterNot(_ == own).toList
    assert(files.size > 50, s"src/main not found under $root")
    // 2^20, 2^26 and 2^28 in any spelling
    val bound = """(?:\b1L?\s*<<\s*(?:20|26|28)\b|\b(?:1048576|67108864|""" +
      """268435456)L?\b|math\.pow\(\s*2(?:\.0)?\s*,\s*(?:20|26|28)\s*\))"""
    val rules: Seq[(String, scala.util.matching.Regex)] = Seq(
      "a localFinish* declaration other than localFinishRows" ->
        """\blocalFinish(?!Rows\b)\w*\s*:""".r,
      "a localFinishRows default other than LocalFinish.MaxRows" ->
        """\blocalFinishRows\s*:\s*\w+\s*=(?!\s*LocalFinish\.MaxRows\b)""".r,
      "a comparison against the budget" ->
        (s"""(?:<=?|>=?)\\s*\\(?\\s*$bound|$bound\\s*\\)?\\s*""" +
          """(?:<(?!>)=?|>=?)""").r,
      "a parameter defaulting to the budget" ->
        (s"""(?<!val |var )\\b\\w+\\s*:\\s*(?:Long|Int|Double)\\s*=""" +
          s"""\\s*\\(?\\s*$bound""").r)
    def offences(f: Path): Seq[String] =
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.flatMap {
        case (line, i) => rules.collect {
          case (what, re) if re.findFirstIn(line).isDefined =>
            s"${root.relativize(f)}:${i + 1}: $what: ${line.trim}"
        }
      }
    val found = files.flatMap(offences)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("source audit: only gd/FullBatch.scala collects, reduces, picks " +
      "a fan-in depth or decides the local finish") {
    val gd = Paths.get(sys.props("user.dir"), "src", "main", "scala",
      "graft", "gd")
    val loop = gd.resolve("FullBatch.scala")
    assert(Files.isRegularFile(loop), s"$loop not found")
    // any `.reduce`: gd has no collection reduce to tell apart from an
    // RDD's
    val call = ("""\.(?:glom|treeAggregate|treeReduce|getNumPartitions|""" +
      """reduce)\b|\bLocalFinish\.(?:fits|enabled)\b""").r
    val files = Files.list(gd).iterator().asScala
      .filter(_.toString.endsWith(".scala")).filterNot(_ == loop)
      .toList.sortBy(_.toString)
    assert(files.size >= 5, s"gd sources not found under $gd")
    val found = files.flatMap { f =>
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined =>
          s"${gd.relativize(f)}:${i + 1}: ${line.trim}"
      }
    }
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
