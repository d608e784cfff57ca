package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}

/** Dev tool: one-line physical-plan audit per query → PLANS.md. The
  * compact counterpart of [[Explain]]: for every batch query it counts
  * shuffles, broadcasts, file scans, whole-stage-codegen spans, and the
  * two cross-join shapes — the numbers the 100 TB review actually reads
  * off `explain("formatted")`. Streaming queries execute through the
  * state store rather than a static plan and are audited via their
  * progress metrics instead (SCALE.md §Streaming).
  * Usage: runMain graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {
  /** Queries with no static batch plan to audit: streaming queries
    * execute through the state store, q37/q126/q234 replay the txn tape
    * (table state, not a plan shape), q147 materializes eagerly
    * via localCheckpoint (the returned plan is the checkpoint scan;
    * its shuffle shape is documented in SCALE.md §Sparse cosine), and
    * q233 returns the fan-out probe's driver-side summary as a literal
    * row (the probe's blocking-stage jobs run during construction;
    * their shape is the containment join's own blocking, audited via
    * q231 + SCALE.md §Scale knee).
    * Shared with PlanShapeSpec's repo-wide cartesian check.
    */
  val planlessQueries: Set[String] =
    Set("q38_stream_window", "q62_stream_join", "q63_stream_sessions",
      "q64_stream_dedup", "q92_stream_enrich", "q120_stream_antijoin",
      "q127_stream_session_timeout", "q132_stream_outer_join",
      "q135_stream_session_window", "q139_stream_oov_filter",
      "q143_stream_span_corrupt", "q148_stream_cdc_merge",
      "q153_stream_window_ndv", "q156_stream_window_topk",
      "q237_stream_watermark_eviction", "q238_stream_session_straggler",
      "q37_txn_visibility", "q126_txn_timetravel", "q234_txn_compaction",
      "q236_txn_retention",
      "q147_cosine_pairs", "q233_fanout_probe")

  /** The pre-AQE physical plan — the shape Catalyst chose; AQE only
    * refines it at runtime.
    */
  def preAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = graft.core.Catalog.newSession("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)

    // Every node of the pre-AQE tree PLUS plans nested inside
    // expressions: scalar/DPP subqueries carry their own exchanges and
    // scans, which plain .collect never visits (it traverses children
    // only) — the audit undercounted exactly the pruning-shaped queries.
    // A NESTED AdaptiveSparkPlanExec (under AQE every subquery plan is
    // SubqueryExec over its own adaptive wrapper) is a LeafExecNode, so
    // collect stops AT it — it must be expanded through its initialPlan
    // or the subquery's exchanges and scans stay invisible (the first
    // version of this fix unwrapped only at the top and still missed
    // them). Each node is processed exactly once: a kept node expands
    // its own subqueries; an adaptive leaf is replaced by its expansion.
    def allNodes(plan: SparkPlan): Seq[SparkPlan] =
      preAqe(plan).collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => allNodes(a)
        case n => n +: n.subqueries.flatMap(allNodes)
      }

    // Codegen spans only exist AFTER CollapseCodegenStages. Under AQE
    // (the default for every exchange-containing plan) that rule runs
    // per query stage at execution time, so the initialPlan carries
    // ZERO WholeStageCodegenExec nodes — the old count was
    // systematically 0 exactly where it mattered. Apply the collapse
    // here to count the spans the planned tree gets; a non-adaptive
    // executed plan is already collapsed and is counted as-is.
    def codegenSpans(plan: SparkPlan): Int = {
      val base = plan match {
        case a: AdaptiveSparkPlanExec =>
          org.apache.spark.sql.execution.CollapseCodegenStages()(a.initialPlan)
        case other => other
      }
      // same nested-adaptive expansion as allNodes: a subquery's own
      // adaptive wrapper is a leaf here and must be collapsed+counted
      // through its initialPlan
      base.collect { case n => n }.map {
        case a: AdaptiveSparkPlanExec => codegenSpans(a)
        case n => (if (n.isInstanceOf[WholeStageCodegenExec]) 1 else 0) +
          n.subqueries.map(codegenSpans).sum
      }.sum
    }

    def audit(p: SparkPlan): (Int, Int, Int, Int, Int, Int) = {
      val nodes = allNodes(p)
      (nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
        nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
        nodes.count(_.isInstanceOf[FileSourceScanExec]),
        codegenSpans(p),
        nodes.count(_.isInstanceOf[CartesianProductExec]),
        nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    }

    val sb = new StringBuilder
    sb ++= "# PLANS — per-query physical-plan audit\n\n"
    sb ++= s"Generated by `runMain graft.PlanAudit $sfDir` (pre-AQE plans,\n"
    sb ++= "engine session: GraftExtensions + full registered stats).\n"
    sb ++= "Columns: shuffle/broadcast exchanges, parquet scans,\n"
    sb ++= "whole-stage-codegen spans, CartesianProduct (cross), \n"
    sb ++= "BroadcastNestedLoop (bnlj — broadcast-bounded by design).\n"
    sb ++= "Counts include plans nested in subquery expressions (scalar/DPP);\n"
    sb ++= "codegen spans are counted after applying CollapseCodegenStages to\n"
    sb ++= "the pre-AQE plan (under AQE the collapse runs per stage at runtime,\n"
    sb ++= "so the initial plan itself carries none).\n"
    sb ++= "Planless rows (—): streaming queries execute through the microbatch\n"
    sb ++= "engine (audited via SCALE.md §Streaming), q37/q126/q234 replay the\n"
    sb ++= "txn tape, q147 materializes via eager localCheckpoint (shuffle\n"
    sb ++= "shape in SCALE.md §Sparse cosine), and q233 returns the fan-out\n"
    sb ++= "probe's driver-side summary as a literal row (probe job shape =\n"
    sb ++= "q231's blocking stages; SCALE.md §Scale knee).\n\n"
    sb ++= "| query | shuffles | broadcasts | scans | codegen | cross | bnlj |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (planlessQueries(name)) {
        sb ++= s"| $name | — | — | — | — | — | — |\n"
      } else {
        try {
          val (sh, bc, sc, cg, cp, nl) = audit(fn(spark, sfDir).queryExecution.executedPlan)
          sb ++= s"| $name | $sh | $bc | $sc | $cg | $cp | $nl |\n"
        } catch {
          case e: Throwable =>
            // keep the 7-column shape so the table still renders
            sb ++= s"| $name | plan failed: ${e.getClass.getSimpleName} | — | — | — | — | — |\n"
        }
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
  }
}
