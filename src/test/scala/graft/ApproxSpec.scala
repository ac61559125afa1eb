package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch-aggregate error bounds: HLL++ distinct counts within its
  * configured relative error of the exact answer, approximate median
  * within the neighboring exact quantiles.
  */
class ApproxSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet").cache()

  test("approx_count_distinct within 5% of exact per group") {
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n < 0.05, s"$k: $a vs $n")
    }
  }

  test("percentile_approx median sits between exact p45 and p55") {
    val bounds = li.stat
      .approxQuantile("l_quantity", Array(0.45, 0.55), 0.0)
    val approxP50 = li.agg(
      percentile_approx(col("l_quantity"), lit(0.5), lit(10000)))
      .head().getDouble(0)
    assert(approxP50 >= bounds(0) && approxP50 <= bounds(1),
      s"p50=$approxP50 not in [${bounds(0)}, ${bounds(1)}]")
  }

  private def assertQuantileParity(df: org.apache.spark.sql.DataFrame,
                                   grp: String, v: String,
                                   qs: Seq[Double], buckets: Int): Unit = {
    val got = SpecSupport
      .exactPercentiles(df, grp, v, qs, buckets)
      .collect().map(r => (r.get(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    val want = df.groupBy(col(grp)).agg(
      expr(s"percentile($v, array(${qs.mkString(",")}))").as("ps"))
      .collect().flatMap { r =>
        r.getSeq[Double](1).zip(qs).map { case (p, q) =>
          (r.get(0), q) -> p
        }
      }.toMap
    assert(got.keySet == want.keySet,
      s"groups/qs mismatch: ${got.keySet} vs ${want.keySet}")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(math.abs(g - w) <= math.abs(w).max(1.0) * 1e-12,
        s"$k: two-phase $g vs built-in $w")
    }
  }

  test("two-phase exact percentiles match built-in percentile on " +
      "lineitem extendedprice per returnflag") {
    assertQuantileParity(li, "l_returnflag", "l_extendedprice",
      Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0), buckets = 1 << 16)
  }

  test("two-phase exact percentiles: random heavy-duplicate corpus, " +
      "tiny bucket count, n=1 and single-value groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // group A: heavy duplication (values on a 10-grid), group B:
    // near-unique doubles, group C: one row, group D: all rows equal
    val rows =
      (1 to 500).map(_ => ("A", (rnd.nextInt(10) * 10).toDouble)) ++
      (1 to 500).map(_ => ("B", rnd.nextDouble() * 1e6)) ++
      Seq(("C", 7.5)) ++
      (1 to 100).map(_ => ("D", 3.25))
    val df = rnd.shuffle(rows).toDF("g", "v")
    // buckets=4 forces many distinct values per bucket and multiple
    // target ranks inside one bucket — the stage-3 window's hard case
    assertQuantileParity(df, "g", "v",
      Seq(0.0, 0.1, 0.5, 0.77, 0.9, 1.0), buckets = 4)
    assertQuantileParity(df, "g", "v", Seq(0.5, 0.95), buckets = 1 << 16)
  }
}
