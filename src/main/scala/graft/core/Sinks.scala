package graft.core

import org.apache.spark.sql.SparkSession

/** Sinks (SURVEY.md §2.1 S5): the reference persists per-iteration
  * cost curves as a single text file via
  * `sc.parallelize(cost_array).coalesce(1).saveAsTextFile(dir)`
  * (`RDD_logisticregression.py:253-254`) and re-reads them for
  * plotting (S7; the specs' reader is `SpecSupport.readCostCurve`).
  * Output layout matches: one part file + _SUCCESS.
  */
object Sinks {

  /** Write one value per line to `dir` as a single part file. */
  def textSingleFile(spark: SparkSession, lines: Seq[String],
                     dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(lines).coalesce(1).write.text(dir)
  }

  def costCurve(spark: SparkSession, costs: Seq[Double],
                dir: String): Unit =
    textSingleFile(spark, costs.map(_.toString), dir)
}
