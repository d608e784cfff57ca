package graft

import graft.plans.SelingerJoinReorder
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution

/** Dev tool: dump `explain("formatted")` for selected queries so the
  * physical plan (pushed filters, read schema, broadcast vs shuffle,
  * whole-stage-codegen spans) can be reviewed per operator, preceded by
  * what the optimizer decided ([[decisions]]). Full statistics are loaded
  * first, as in PlanAudit, so the Selinger rule plans from histograms.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  /** One line on what the optimizer decided for a query: the optimization
    * phase's time, how often the Selinger reorder rule ran and how often
    * that changed the plan, and the leaf order of the optimized plan (each
    * leaf by its first column, so a left-deep chain reads as its join
    * order). A rule count at `spark.sql.optimizer.maxIterations` or above
    * means it never settled.
    */
  def decisions(qe: QueryExecution): String = {
    val plan = qe.optimizedPlan
    val optMs = qe.tracker.phases.get(QueryPlanningTracker.OPTIMIZATION)
      .map(_.durationMs).getOrElse(0L)
    val rule = qe.tracker.rules.get(SelingerJoinReorder.ruleName)
    val leaves = plan.collectLeaves().map(_.output.headOption.map(_.name).getOrElse("?"))
    s"optimize $optMs ms; SelingerJoinReorder ran " +
      s"${rule.map(_.numInvocations).getOrElse(0L)} times, " +
      s"${rule.map(_.numEffectiveInvocations).getOrElse(0L)} changed the plan; " +
      s"leaves ${leaves.mkString(", ")}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Catalog.newSession("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        println(decisions(df.queryExecution))
        df.explain("formatted")
      } catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
