package graft.plans

import graft.stats.{PredicateOp, TableStats}

/** Selinger-style bottom-up dynamic program over join-edge subsets,
  * producing a left-deep join order — a faithful re-derivation of the
  * reference's `JoinOptimizer`
  * (`/root/reference/src/optimizer/join_optimizer.cc:40-292`), with the
  * same cost model, cardinality model, orientation logic and pruning, so
  * its plan-shape tests port one-for-one.
  *
  * Cost model (nested-loop, `join_optimizer.cc:47-54`):
  *   joincost(t1 ⋈ t2) = cost1 + card1·cost2 + card1·card2
  *
  * Cardinality model (`join_optimizer.cc:76-92`):
  *   EQ: t1 pkey → card2; t2 pkey → card1; else max(card1, card2)
  *   non-EQ: 0.3 · card1 · card2
  *
  * The DP runs entirely on the driver over table-level statistics — it
  * never touches data. Exhaustive subset enumeration is exponential in the
  * number of join edges but fine through ~12 edges (the reference's
  * BigOrderJoinsTest runs 10 edges; `optimizer_test.cc:507-571`).
  *
  * Quirk kept for parity: after the orientation swap the cardinality call
  * receives the UNSWAPPED (t1_card, t2_card) but SWAPPED pkey flags,
  * exactly as the reference does (`join_optimizer.cc:269-290`); the
  * [[orientedCardinality]] hook lets a subclass drop it.
  */
class JoinOptimizer(joins: Vector[JoinEdge]) {

  def estimateJoinCost(card1: Long, card2: Long,
      cost1: Double, cost2: Double): Double =
    cost1 + card1.toDouble * cost2 + card1.toDouble * card2.toDouble

  def estimateJoinCardinality(j: JoinEdge, card1: Long, card2: Long,
      t1pkey: Boolean, t2pkey: Boolean): Long =
    if (j.op == PredicateOp.EQ) {
      if (t1pkey) card2
      else if (t2pkey) card1
      else math.max(card1, card2)
    } else (0.3 * card1.toDouble * card2.toDouble).toLong

  /** @param isPkey whether (table, column) is that table's primary key;
    *        the reference's convention is "column index 0"
    *        (`join_optimizer.cc:220,224`).
    */
  def orderJoins(
      stats: Map[String, TableStats],
      filterSelectivities: Map[String, Double],
      isPkey: (String, String) => Boolean): Vector[JoinEdge] = {

    // The memo's reference-faithful identity ignores op (PlanCache keys):
    // two edges identical up to op would share memo slots, and the DP
    // could return a plan that repeats one edge and DROPS the other — a
    // silently wrong join for whoever applies the plan as returned.
    // SelingerJoinReorder declines such inputs before calling in; direct
    // callers of this public API get the same contract as a named error
    // instead of corrupt output.
    require(joins.distinct
      .map(e => (e.leftTable, e.rightTable, e.leftField, e.rightField))
      .distinct.size == joins.distinct.size,
      "orderJoins: edge set contains edges identical up to op — the " +
        "reference-faithful memo identity ignores op, so such sets are " +
        "ambiguous; split them into separate optimizer calls or keep " +
        "the extra predicate as a residual filter")

    val pc = new PlanCache

    for (size <- 1 to joins.length) {
      // combinations() of the distinct edges; within a subset, iterate in
      // the reference's std::set order so tie-breaking matches.
      joins.combinations(size).foreach { combo =>
        val subset = combo.sorted(JoinEdge.ordering)
        var bestSoFar = Double.MaxValue
        var bestCC: Option[CostCard] = None
        subset.foreach { edge =>
          computeCostAndCardOfSubplan(
            stats, filterSelectivities, isPkey, edge, subset, bestSoFar, pc
          ).foreach { cc =>
            bestSoFar = cc.cost
            bestCC = Some(cc)
          }
        }
        bestCC.foreach { cc =>
          pc.addPlan(subset, cc)
        }
      }
    }
    // Only the plan covering ALL edges is a valid answer. A disconnected
    // join graph admits no connected left-deep plan for the full set, and
    // silently returning the best plan of a smaller subset would drop join
    // edges — callers must fall back to default planning instead
    // (SelingerReorderRule treats empty as "decline to rewrite").
    if (joins.isEmpty) Vector.empty
    else pc.get(joins).map(_.plan).getOrElse(Vector.empty)
  }

  /** Cardinality of the join the DP just oriented: `j` is `edge` after
    * the orientation swap (`swapped` says whether it happened), while
    * `card1`/`t1pkey` and `card2`/`t2pkey` describe `edge`'s left and
    * right side as written. The default keeps the reference quirk — cards
    * unswapped, pkey flags swapped — so the estimate depends on which way
    * the edge is written.
    */
  protected[graft] def orientedCardinality(j: JoinEdge, swapped: Boolean,
      card1: Long, card2: Long, t1pkey: Boolean, t2pkey: Boolean): Long =
    if (swapped) estimateJoinCardinality(j, card1, card2, t2pkey, t1pkey)
    else estimateJoinCardinality(j, card1, card2, t1pkey, t2pkey)

  /** Mirror of `compute_cost_and_card_of_subplan`
    * (`join_optimizer.cc:195-292`): returns the CostCard for joining
    * `edge` last onto the best plan for `subset - edge`, or None if that
    * would require a cross product or cannot beat `bestCostSoFar`.
    */
  private def computeCostAndCardOfSubplan(
      stats: Map[String, TableStats],
      filterSel: Map[String, Double],
      isPkey: (String, String) => Boolean,
      edge: JoinEdge,
      subset: Vector[JoinEdge],
      bestCostSoFar: Double,
      pc: PlanCache): Option[CostCard] = {

    val rest = subset.filterNot(_ == edge)

    def baseCost(t: String): Double = stats(t).estimateScanCost()
    def baseCard(t: String): Long =
      stats(t).estimateTableCardinality(filterSel.getOrElse(t, 1.0))

    val resolved: Option[(Vector[JoinEdge], Double, Long, Boolean, Double, Long, Boolean)] =
      if (rest.isEmpty) {
        Some((Vector.empty,
          baseCost(edge.leftTable), baseCard(edge.leftTable),
          isPkey(edge.leftTable, edge.leftField),
          baseCost(edge.rightTable), baseCard(edge.rightTable),
          isPkey(edge.rightTable, edge.rightField)))
      } else {
        pc.get(rest).flatMap { prev =>
          val joinsLeft = prev.plan.exists(_.touches(edge.leftTable))
          val joinsRight = prev.plan.exists(_.touches(edge.rightTable))
          val prevHasPkey =
            prev.plan.exists(j => isPkey(j.leftTable, j.leftField) ||
              isPkey(j.rightTable, j.rightField))
          if (joinsLeft) {
            Some((prev.plan, prev.cost, prev.card, prevHasPkey,
              baseCost(edge.rightTable), baseCard(edge.rightTable),
              isPkey(edge.rightTable, edge.rightField)))
          } else if (joinsRight) {
            Some((prev.plan,
              baseCost(edge.leftTable), baseCard(edge.leftTable),
              isPkey(edge.leftTable, edge.leftField),
              prev.cost, prev.card, prevHasPkey))
          } else None // cross product — prune
        }
      }

    resolved.flatMap {
      case (prevPlan, t1Cost, t1Card, leftPk, t2Cost, t2Card, rightPk) =>
        val costForward = estimateJoinCost(t1Card, t2Card, t1Cost, t2Cost)
        val costSwapped = estimateJoinCost(t2Card, t1Card, t2Cost, t1Cost)
        val swapped = costSwapped < costForward
        val (j, cost) =
          if (swapped) (edge.swapInnerOuter, costSwapped) else (edge, costForward)
        if (cost >= bestCostSoFar) None
        else {
          val card = orientedCardinality(j, swapped, t1Card, t2Card, leftPk, rightPk)
          Some(CostCard(cost, card, prevPlan :+ j))
        }
    }
  }
}

/** Production-path cardinality refinement used by
  * [[SelingerJoinReorder]]: the reference's EQ estimates
  * (`join_optimizer.cc:76-92`) underestimate in two compounding ways —
  * the non-pkey branch `max(card1, card2)` assumes FK-shaped joins, and
  * the accumulated-plan pkey flag (`prevHasPkey`: any prior pkey edge
  * marks the WHOLE intermediate as "pkey") keeps the FK branch firing
  * even after the intermediate has multiplied, so a low-domain key like
  * nationkey walks the DP into quadratic intermediates that an
  * AQE-coalesced single partition then executes serially (measured: 40 s
  * on TPC-H Q5 at sf0.1, one 33 s task). When a column ndv is known we
  * take the larger of the reference estimate and the System R form
  * `card1 · card2 / max(ndv1, ndv2)` for EVERY EQ edge — the System R
  * form degenerates to exactly the FK estimate when ndv equals the
  * keyed side's row count, so true FK joins are unchanged, while m:n
  * expansions become visible to the cost model mid-plan. ndv comes from
  * the HLL sketches every [[graft.stats.TableStats.build]] measures, or
  * for stats made from histograms alone the integer domain width,
  * capped by row count.
  *
  * It also drops the reference's orientation quirk: cards swap together
  * with the pkey flags, so an edge gets the same estimate whichever way
  * it is written. The base [[JoinOptimizer]] stays reference-faithful —
  * its ported plan-shape tests pin the original model.
  */
final class NdvAwareJoinOptimizer(
    joins: Vector[JoinEdge],
    ndvOf: (String, String) => Option[Long]) extends JoinOptimizer(joins) {
  override protected[graft] def orientedCardinality(j: JoinEdge, swapped: Boolean,
      card1: Long, card2: Long, t1pkey: Boolean, t2pkey: Boolean): Long =
    if (swapped) estimateJoinCardinality(j, card2, card1, t2pkey, t1pkey)
    else estimateJoinCardinality(j, card1, card2, t1pkey, t2pkey)

  override def estimateJoinCardinality(j: JoinEdge, card1: Long, card2: Long,
      t1pkey: Boolean, t2pkey: Boolean): Long = {
    val base = super.estimateJoinCardinality(j, card1, card2, t1pkey, t2pkey)
    if (j.op == PredicateOp.EQ) {
      val ndvs = Seq(ndvOf(j.leftTable, j.leftField),
        ndvOf(j.rightTable, j.rightField)).flatten
      if (ndvs.isEmpty) base
      else {
        val ndv = math.max(1L, ndvs.max)
        math.max(base, (card1.toDouble * card2.toDouble / ndv).toLong)
      }
    } else base
  }
}
