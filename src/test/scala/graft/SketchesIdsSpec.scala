package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.CountMinAgg
import graft.operators.{Ids, Sketches}

/** The t23/c11 oracles prove fixture-scale parity; this spec drives
  * the two operators where the fixtures can't: the Count-Min grid's
  * partition-order independence and one-sided error on a domain with
  * real collisions, and the contiguous-id two-pass against heavy
  * range-key ties and arbitrary boundary placements.
  */
class SketchesIdsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Depth = 4
  private val Width = 64

  private def items: Seq[String] = {
    val rng = new scala.util.Random(11L)
    Seq.tabulate(20000)(_ => s"w${rng.nextInt(500)}")
  }

  test("count-min grid is partition-order independent and matches " +
      "the cell-by-cell reference") {
    import spark.implicits._
    val rows = items
    // reference grid, single-threaded
    val ref = new Array[Long](Depth * Width)
    rows.foreach { it =>
      (0 until Depth).foreach { r =>
        ref(r * Width + CountMinAgg.cell(r, it, Width)) += 1L
      }
    }
    for (parts <- Seq(1, 3, 16)) {
      val grid = Sketches.countMin(
        rows.toDF("word").repartition(parts), "word", Depth, Width)
        .as[Seq[Long]].head()
      assert(grid == ref.toSeq, s"grid drifted at parts=$parts")
    }
  }

  test("estimates are one-sided: est >= exact for every item, and " +
      "the in-row probe agrees with a scala probe of the same grid") {
    import spark.implicits._
    val rows = items
    val df = rows.toDF("word").repartition(8)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val grid = Sketches.countMin(df, "word", Depth, Width)
    val probed = df.distinct().crossJoin(grid)
      .select($"word",
        Sketches.cmsEstimate($"cms", $"word", Depth, Width).as("est"))
      .as[(String, Long)].collect()
    assert(probed.length == exact.size)
    var collided = 0
    probed.foreach { case (w, est) =>
      assert(est >= exact(w), s"$w under-estimated: $est < ${exact(w)}")
      if (est > exact(w)) collided += 1
    }
    // width 64 on a 500-word domain MUST collide — otherwise the
    // one-sided assertion above proved nothing
    assert(collided > 0, "no collisions: widen the test domain")
  }

  test("fast-profile grid: partition-order independent, matches the " +
      "cellFast reference, estimates one-sided, probes agree") {
    import spark.implicits._
    val rows = items
    val ref = new Array[Long](Depth * Width)
    rows.foreach { it =>
      (0 until Depth).foreach { r =>
        ref(r * Width + CountMinAgg.cellFast(r, it, Width)) += 1L
      }
    }
    for (parts <- Seq(1, 16)) {
      val grid = Sketches.countMinFast(
        rows.toDF("word").repartition(parts), "word", Depth, Width)
        .as[Seq[Long]].head()
      assert(grid == ref.toSeq, s"fnv grid drifted at parts=$parts")
    }
    val df = rows.toDF("word").repartition(8)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val grid = Sketches.countMinFast(df, "word", Depth, Width)
    val probed = df.distinct().crossJoin(grid)
      .select($"word",
        Sketches.cmsEstimateFast($"cms", $"word", Depth, Width).as("est"))
      .as[(String, Long)].collect()
    var collided = 0
    probed.foreach { case (w, est) =>
      assert(est >= exact(w), s"$w under-estimated: $est < ${exact(w)}")
      if (est > exact(w)) collided += 1
    }
    assert(collided > 0, "no collisions: widen the test domain")
  }

  test("fast scala cell and the cmsCellFast column are the same hash " +
      "(the t24 oracle-parity hinge), incl. non-ascii and empty") {
    import spark.implicits._
    val words = Seq("the", "répé", "a|b", "", "x" * 100)
    val got = words.toDF("word")
      .select($"word",
        Sketches.cmsCellFast(0, $"word", Width).as("c0"),
        Sketches.cmsCellFast(3, $"word", Width).as("c3"))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = words.map(w =>
      (w, CountMinAgg.cellFast(0, w, Width).toLong,
        CountMinAgg.cellFast(3, w, Width).toLong)).sortBy(_._1)
    assert(got == want)
  }

  test("scala cell function and the sql cmsCell column are the same " +
      "hash (the oracle-parity hinge)") {
    import spark.implicits._
    val words = Seq("the", "répé", "a|b", "", "x" * 100)
    val got = words.toDF("word")
      .select($"word",
        Sketches.cmsCell(0, $"word", Width).as("c0"),
        Sketches.cmsCell(3, $"word", Width).as("c3"))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    val want = words.map(w =>
      (w, CountMinAgg.cell(0, w, Width).toLong,
        CountMinAgg.cell(3, w, Width).toLong)).sortBy(_._1)
    assert(got == want)
  }

  private def llRegisters(xs: Seq[String], p: Int): Map[Int, Int] = {
    import spark.implicits._
    xs.toDF("w").select(Sketches.logLog($"w", p).as("ll"))
      .groupBy($"ll.bucket").agg(max($"ll.rho").as("r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
  }

  test("loglog rho kernel (LZCNT) equals the builtin bin()-length " +
      "form — full decomposition and boundary ranks") {
    import spark.implicits._
    val xs = Seq.tabulate(5000)(i => s"v$i")
    def decomp(f: (org.apache.spark.sql.Column, Int) =>
        org.apache.spark.sql.Column) =
      xs.toDF("w").select(f($"w", 6).as("l"))
        .select($"l.bucket", $"l.wbits", $"l.rho")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
        .toSet
    assert(decomp(Sketches.logLog) == decomp(SketchesComposed.logLogComposed))
    // rank boundaries, incl. the zero remainder (no special case in
    // the kernel: bitlen(0) = 0 falls out of LZCNT arithmetic)
    for ((w, expect) <- Seq(0L -> 55, 1L -> 54, 2L -> 53, 3L -> 53,
        (1L << 53) -> 1, ((1L << 54) - 1) -> 1))
      assert(graft.expressions.LogLogRhoImpl.rho(w, 55) == expect,
        s"rho($w)")
  }

  test("loglog registers are duplicate-insensitive and merge by " +
      "element-wise max") {
    val xs = Seq.tabulate(3000)(i => s"item$i")
    val once = llRegisters(xs, 6)
    // duplicates change nothing: max(rho) is idempotent per item
    assert(llRegisters(xs ++ xs ++ xs.take(500), 6) == once)
    // split-and-max == whole: the mergeability streaming state needs
    val (a, b) = xs.splitAt(1200)
    val (ra, rb) = (llRegisters(a, 6), llRegisters(b, 6))
    val merged = (ra.keySet ++ rb.keySet).map(k =>
      k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))).toMap
    assert(merged == once)
  }

  test("loglog estimate from the registers lands within the m=64 " +
      "error band of the true cardinality") {
    for (n <- Seq(500, 5000, 20000)) {
      val distinct = Seq.tabulate(n)(i => s"tok-$i-x")
      // feed with duplicates so the estimate sees a realistic stream
      val est = SketchesComposed.logLogEstimate(
        llRegisters(distinct ++ distinct.take(n / 3), 6), 6)
      // raw HLL estimator, 1.04/sqrt(64) = 13% standard error; allow 3σ
      assert(math.abs(est - n) / n < 0.4,
        s"n=$n est=$est rel=${math.abs(est - n) / n}")
    }
  }

  test("contiguousIds equals the global row_number for any bucket " +
      "count, with heavy range-key ties") {
    import spark.implicits._
    val rng = new scala.util.Random(5L)
    // 5000 rows, range key drawn from just 40 values → every bucket
    // boundary lands inside a tie group somewhere
    val rows = rng.shuffle(
      (0 until 5000).map(i => (i.toLong, (rng.nextInt(40) + 1).toLong)))
    val df = rows.toDF("id", "k").repartition(16)
    val want = rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, _), i) => id -> i.toLong }.toMap
    for (buckets <- Seq(1, 3, 8, 50)) {
      val got = Ids.contiguousIds(df, "k", Seq("id"), buckets)
        .select($"id", $"uid").as[(Long, Long)].collect().toMap
      assert(got == want, s"uids drifted at buckets=$buckets")
    }
  }

  test("contiguousIds plan: the corpus window is partitioned (no " +
      "single-partition global sort of the data)") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "k")
    val plan = Ids.contiguousIds(df, "k", Seq("id"), 8)
      .queryExecution.executedPlan
    // inspect the actual WindowExec nodes (string matching on
    // "partitionBy" never fires — the physical plan prints the
    // partition spec as an expression list, not that token), looking
    // through AQE's wrapper when present
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => windows(a.executedPlan)
        case other => other.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
      }
    val wins = windows(plan)
    assert(wins.nonEmpty, s"no WindowExec found:\n$plan")
    // every window over the corpus must carry a partition spec; the
    // only unpartitioned window allowed is the <=buckets-row offsets
    // prefix-sum, which sorts by the bucket column __b alone
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val sortCols = w.orderSpec.flatMap(_.child.references.toSeq.map(_.name))
      assert(sortCols == Seq("__b"),
        s"global window leaked (sorts by $sortCols):\n$plan")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"expected a bucket-partitioned corpus window:\n$plan")
  }

  test("contiguousIds fails loud on a degenerate single-value range " +
      "key instead of silently funneling the corpus into one bucket") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, 7L)).toDF("id", "k")
    val e = intercept[IllegalStateException] {
      Ids.contiguousIds(df, "k", Seq("id"), 8)
    }
    assert(e.getMessage.contains("too skewed"), e.getMessage)
    assert(e.getMessage.contains("single-task sort"), e.getMessage)
    // buckets = 1 is the explicit single-bucket opt-out — the guard
    // stands down and ids still come out contiguous in (k, id) order
    val got = Ids.contiguousIds(df, "k", Seq("id"), 1)
      .select($"id", $"uid").as[(Long, Long)].collect().toMap
    assert(got == (0 until 2000).map(i => i.toLong -> i.toLong).toMap)
    // an explicit tolerance raise is honored
    val n = Ids.contiguousIds(df, "k", Seq("id"), 8, skewTolerance = 8.0)
      .count()
    assert(n == 2000L)
  }
}
