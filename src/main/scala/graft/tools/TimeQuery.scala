package graft.tools

import graft.{QueryLoop, SparkEntry}
import graft.core.Sessions

/** Times selected queries in one session through [[QueryLoop]], the
  * loop `graft.Bench` runs: a `TIMED <query> <secs> s` line per run,
  * then a min/median/max line per query run more than once. The first
  * run of a query carries its codegen warm-up; repeat it (`-n`) for a
  * warm number.
  *
  * Usage: TimeQuery <sfDir> [-n <runs>] <q>...
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (n, names) =
      if (args.lift(1).contains("-n")) (args(2).toInt, args.drop(3).toSeq)
      else (1, args.tail.toSeq)
    val spark = Sessions.local("graft-time", "32")
    val loop = QueryLoop(spark, sfDir, names)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = Seq.fill(n) {
        val dt = loop.time(fn(spark, sfDir))
        println(f"TIMED $name $dt%.2f s")
        dt
      }
      if (n > 1) println(f"SUMMARY $name min=${times.min}%.2f " +
        f"median=${times.sorted.apply(n / 2)}%.2f max=${times.max}%.2f s " +
        f"over $n runs")
    }
    spark.stop()
  }
}
