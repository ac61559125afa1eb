package graft.tools

import org.apache.spark.sql.functions._

/** Round-15 evidence for the d20 cost-based path choice: prints the
  * emission-candidate volume (Σ df·(df−1)/2), the occurrence count
  * (Σ df) and their ratio — the [[graft.operators.Dedup.emissionWins]]
  * statistic — for the real d20 corpora, plus a timed A/B of the two
  * paths. Usage: runMain graft.tools.D20Decision [sfDirs...]
  */
object D20Decision {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-d20-decision",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "*"))
    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    def timed[A](tag: String)(f: => A): A = {
      System.gc()
      val t0 = System.nanoTime(); val a = f
      println(f"[d20-decision] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    }
    for (sf <- sfs) {
      def sh = graft.operators.Dedup.shingles(
        graft.core.Tables.documents(spark, sf), "doc_id",
        graft.text.TextOps.tokenize(col("text")))
      val (pairs, occ) = graft.operators.Dedup.emissionStats(
          sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")))
        .getOrElse((0.0, 0.0))
      println(f"[d20-decision] $sf pairs=$pairs%.0f occ=$occ%.0f " +
        f"ratio=${pairs / occ}%.2f")
      def sweep(): Unit =
        spark.sparkContext.getPersistentRDDs.foreach {
          case (_, rdd) => rdd.unpersist(blocking = true)
        }
      for (rep <- 1 to 2) {
        timed(s"$sf emission rep$rep") {
          graft.operators.Dedup.jaccardPairs(sh, 0.5)
            .queryExecution.toRdd.foreach(_ => ())
        }
        sweep()
        timed(s"$sf prefix rep$rep") {
          graft.operators.Dedup.prefixFilterPairs(sh, 0.5)
            .queryExecution.toRdd.foreach(_ => ())
        }
        sweep()
        timed(s"$sf auto rep$rep") {
          graft.operators.Dedup.exactJaccardPairsAuto(sh, 0.5)
            .queryExecution.toRdd.foreach(_ => ())
        }
        sweep()
      }
    }
    spark.stop()
  }
}
