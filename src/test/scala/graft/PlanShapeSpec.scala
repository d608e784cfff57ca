package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the queries whose 100 TB posture depends
  * on a specific physical structure — the properties `.explain` review
  * established, pinned so a regression can't silently reintroduce a
  * scale-killer. Counting is done on the pre-AQE physical plan (the
  * shape Catalyst chose; AQE only refines it at runtime), under the
  * engine's extensions, as Bench and Verify plan it.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.sparkWithExtensions
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan =
    PlanAudit.preAqe(df.queryExecution.executedPlan)
  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    plan(df).collect { case s: ShuffleExchangeExec => s }
  private def broadcasts(df: DataFrame): Seq[BroadcastExchangeExec] =
    plan(df).collect { case b: BroadcastExchangeExec => b }

  test("q76 (TPC-H Q18): HAVING filter applies before the joins") {
    // the per-order aggregate + HAVING must sit BELOW the customer and
    // orders joins (~1% of orders survive), not above a 3-table join
    val df = Queries.q76_tpch_q18(spark, dir)
    val p = plan(df)
    val joins = p.collect {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty)
    // every join keeps the aggregate in a subtree, so no join is an
    // ancestor-free sibling above it: check the TOP join's left/right
    // contains the aggregated+filtered lineitem
    val hasAggBelowJoin = joins.exists(_.collectLeaves().size <= 3) &&
      joins.forall { j =>
        j.collect { case a: HashAggregateExec => a
                    case a: ObjectHashAggregateExec => a
                    case a: SortAggregateExec => a }.nonEmpty
      }
    assert(hasAggBelowJoin,
      s"expected the per-order aggregate below every join:\n$p")
  }

  test("q74 (TPC-H Q7): both nation dims broadcast, filtered at the scan") {
    val df = Queries.q74_tpch_q7(spark, dir)
    // two 2-row nation dims -> at least two broadcast exchanges; the
    // pair filter must appear below them (scan-level), not only at top
    assert(broadcasts(df).size >= 2,
      s"expected broadcast nation dims:\n${plan(df)}")
  }

  test("q81 (Merge.upsert): exactly one shuffle for the whole merge") {
    val df = Queries.q81_merge_upsert(spark, dir)
    // union + window dedup = ONE exchange on the key; a full-outer-join
    // formulation would need two
    assert(shuffles(df).size == 1,
      s"expected a single exchange:\n${plan(df)}")
  }

  test("q83 (Packing): one shuffle on the stratum for the prefix sum") {
    val df = Queries.q83_pack_shards(spark, dir)
    assert(shuffles(df).size == 1,
      s"expected a single exchange:\n${plan(df)}")
  }

  test("q82 (stratifiedSample): pure scan-side predicate, no shuffle") {
    val df = Queries.q82_stratified_sample(spark, dir)
    assert(shuffles(df).isEmpty && broadcasts(df).isEmpty,
      s"expected a shuffle-free scan:\n${plan(df)}")
  }

  test("q114/q118/q119 (scrub, chunking, quantization): zero-exchange map plans") {
    for (q <- Seq(Queries.q114_pii_scrub _, Queries.q118_chunking _,
        Queries.q119_int8_quantize _)) {
      val df = q(spark, dir)
      assert(shuffles(df).isEmpty && broadcasts(df).isEmpty,
        s"expected a pure map plan:\n${plan(df)}")
    }
  }

  test("q115 (boilerplate): survivors join back as a broadcast, docs never shuffle twice") {
    val df = Queries.q115_boilerplate(spark, dir)
    // grams df-agg + per-doc agg = exchanges on gram/doc keys; the
    // boilerplate set itself must come back as a broadcast, not a
    // third corpus-scale shuffle
    assert(broadcasts(df).nonEmpty,
      s"expected the boilerplate set broadcast:\n${plan(df)}")
  }

  test("q116 (band filter): thresholds broadcast; windows never see document rows") {
    val df = Queries.q116_band_filter(spark, dir)
    val p = plan(df)
    assert(broadcasts(df).nonEmpty,
      s"expected the #langs-row threshold table broadcast:\n$p")
    // every window sits above the histogram aggregate, never directly
    // over a scan: each WindowExec subtree must contain a hash agg
    val windows = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.collect {
      case a: HashAggregateExec => a
      case a: ObjectHashAggregateExec => a }.nonEmpty),
      s"expected windows over histogram rows only:\n$p")
  }

  test("no CartesianProduct in ANY batch query plan") {
    // the repo-wide scale invariant: every cross-join-shaped operation
    // (theta join, capped LSH verification, ANN broadcast pass, 1-row
    // scalar thresholds) must plan as a broadcast-bounded BNLJ, never a
    // CartesianProduct — which shuffles both sides everywhere and is
    // the canonical 100 TB cluster-killer. Streaming/stateful queries
    // are audited via progress metrics instead.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => PlanAudit.planlessQueries(n) }
      .flatMap { case (name, fn) =>
        val p = plan(fn(spark, dir))
        val crosses = p.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }
        if (crosses.nonEmpty) Some(name) else None
      }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("q231 (containmentPairs): hash-agg/equi-join shuffles only, no nested-loop join") {
    // the production containment path must never fall back to the
    // all-pairs shape of its q130 verification form: every join is a
    // keyed equi-join (candidate block + verify rejoin), so the plan
    // carries no BroadcastNestedLoopJoin and no CartesianProduct
    val df = Queries.q231_containment_join(spark, dir)
    val p = plan(df)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty,
      s"all-pairs join in the containment plan:\n$p")
    assert(shuffles(df).nonEmpty, "expected keyed equi-join shuffles")
  }

  test("q53 (TPC-H Q5): dims broadcast; no cartesian anywhere") {
    val df = Queries.q53_tpch_q5(spark, dir)
    val p = plan(df)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
      p.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty,
      s"cartesian in the Q5 plan:\n$p")
  }
}
