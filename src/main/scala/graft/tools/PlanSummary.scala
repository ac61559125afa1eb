package graft.tools

import graft.SparkEntry
import graft.core.Sessions
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: a per-query physical-plan summary (join
  * strategies, exchanges, codegen spans, pushed filters) over
  * sf0.001 — the scale-shape audit trail. The m-queries are excluded:
  * they run imperative train/eval pipelines, not one declarative
  * plan.
  */
object PlanSummary {

  /** The FINAL (post-AQE) executed-plan string. Before execution an
    * AQE plan prints `isFinalPlan=false` with no `*(n)` codegen
    * markers and pre-reoptimization operators — auditing that string
    * undercounts codegen spans to 0 for every shuffle/join/agg query.
    * So: materialize first, then read the plan. NOTE it must be
    * `collect()`, which executes THIS QueryExecution — `count()`
    * builds a new one and leaves the audited plan unexecuted.
    */
  def finalPlanString(df: DataFrame): String = {
    df.collect()
    // an executed AdaptiveSparkPlan prints "== Final Plan ==" followed
    // by "== Initial Plan ==" — keep only the final section, or every
    // operator would be counted twice
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
  }

  /** Distinct WholeStageCodegen span ids (`*(n)` prefixes) in a plan
    * string.
    */
  def wscSpans(plan: String): Int =
    "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-plans", "8")
    val sfDir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (sf0.001)\n\n")
    sb.append("Generated by `graft.tools.PlanSummary`. Counts from the\n")
    sb.append("FINAL (post-AQE) executed plan, read after materializing\n")
    sb.append("each query: BHJ=BroadcastHashJoin, SMJ=SortMergeJoin,\n")
    sb.append("EX=Exchange (shuffle), WSC=WholeStageCodegen spans,\n")
    sb.append("TOP=TakeOrderedAndProject, PF=scans with pushed filters.\n")
    sb.append("ML train/eval queries (m01–m07) excluded — imperative\n")
    sb.append("pipelines, not single plans. WSC ≥ 1 for every q-query\n")
    sb.append("except q17 is asserted by PlanAuditSpec (q17's sketch\n")
    sb.append("aggregation is ObjectHashAggregate — no codegen support\n")
    sb.append("in Spark itself).\n\n")
    sb.append("| query | BHJ | SMJ | EX | WSC | TOP | PF | notes |\n")
    sb.append("|---|---|---|---|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("m0")).foreach { case (name, fn) =>
        val plan = finalPlanString(fn(spark, sfDir))
        def n(p: String) = p.r.findAllIn(plan).length
        val notes = Seq(
          if (plan.contains("ScalaUDF")) Some("UDF!") else None,
          if (plan.contains("CartesianProduct"))
            Some("cartesian(intended: <-bounded slice)") else None
        ).flatten.mkString(" ")
        sb.append(s"| $name | ${n("BroadcastHashJoin")} | " +
          s"${n("SortMergeJoin")} | ${n("Exchange")} | " +
          s"${wscSpans(plan)} | ${n("TakeOrderedAndProject")} | " +
          s"${n("PushedFilters: \\[[^\\]]")} | $notes |\n")
      }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
