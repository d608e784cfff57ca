package graft

import graft.plans.{JoinEdge, JoinOptimizer}
import graft.stats.{IntHistogram, PredicateOp, TableStats}
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's JoinOptimizerTest suite
  * (`/root/reference/test/unit/optimizer/optimizer_test.cc:66-140,372-623`):
  * cost-model growth-order checks and the three plan-shape tests, with the
  * same table shapes and the same assertions. Runs entirely driver-side
  * (stats via [[TableStats.fromHistograms]]) like the reference's DP.
  */
class JoinOptimizerSpec extends AnyFunSuite {

  private val IoCost = 100.0

  // test/utils/utils.cc:63-91 finite-difference growth checks.
  private def diff(xs: Seq[Double]): Seq[Double] =
    xs.sliding(2).map { case Seq(a, b) => b - a }.toSeq
  private def checkConstant(xs: Seq[Double]): Boolean = {
    val av = xs.sum / xs.size
    math.sqrt(xs.map(x => (x - av) * (x - av)).sum / xs.size) < 1.0
  }
  private def checkLinear(xs: Seq[Double]): Boolean = checkConstant(diff(xs))
  private def checkQuadratic(xs: Seq[Double]): Boolean = checkLinear(diff(xs))

  /** Seeded uniform stats table mirroring `populate_table(id, rows, cols,
    * 32)` + `TableStats(...)`: values uniform in [1, 31], NUM_HIST_BINS
    * bins, page count from the reference's slotted-page capacity
    * (~8196B / (4B*fields + 8B slot)).
    */
  private def uniformStats(rows: Int, cols: Int, seed: Int,
      maxRand: Int = 32): TableStats = {
    val rnd = new scala.util.Random(seed)
    val hists = (0 until cols).map { c =>
      val h = new IntHistogram(TableStats.NumHistBins, 1, maxRand - 1)
      (0 until rows).foreach(_ => h.addValue(1 + rnd.nextInt(maxRand - 1)))
      s"c$c" -> h
    }
    val tuplesPerPage = math.max(1, 8192 / (4 * cols + 8))
    val pages = math.max(1L, math.ceil(rows.toDouble / tuplesPerPage).toLong)
    TableStats.fromHistograms(rows.toLong, IoCost, pages, hists)
  }

  private val jo0 = new JoinOptimizer(Vector.empty)

  // optimizer_test.cc:66-140 — join cost growth orders; every cost must
  // exceed cost1 + cost2.
  test("EstimateJoinCostTest: linear in each arg, quadratic in all") {
    def costs(card1s: Seq[Int], card2s: Seq[Int],
        cost1s: Seq[Double], cost2s: Seq[Double]): Seq[Double] =
      card1s.indices.map { i =>
        val c = jo0.estimateJoinCost(card1s(i), card2s(i), cost1s(i), cost2s(i))
        assert(c > cost1s(i) + cost2s(i))
        c
      }
    val is = 0 until 20
    assert(checkLinear(costs(is.map(3 * _ + 1), is.map(_ => 5),
      is.map(_ => 5.0), is.map(_ => 5.0))))
    assert(checkLinear(costs(is.map(_ => 4), is.map(3 * _ + 1),
      is.map(_ => 5.0), is.map(_ => 5.0))))
    assert(checkLinear(costs(is.map(_ => 7), is.map(_ => 7),
      is.map(i => 5.0 * (i + 1)), is.map(_ => 3.0))))
    assert(checkLinear(costs(is.map(_ => 9), is.map(_ => 9),
      is.map(_ => 5.0), is.map(i => 3.0 * (i + 1)))))
    assert(checkQuadratic(costs(is.map(i => 2 * (i + 1)), is.map(9 * _ + 1),
      is.map(i => 5.0 * i + 2), is.map(i => 3.0 * i + 1))))
  }

  // optimizer_test.cc:396-408 — pkey-side semantics on the t1/t2 fixture
  // (t1 10200 rows sel 0.8 -> 8160; t2 1000 rows sel 0.2 -> 200).
  test("EstimateJoinCardinality: pkey side wins") {
    val t1 = uniformStats(10200, 4, seed = 101)
    val t2 = uniformStats(1000, 4, seed = 102)
    val card1 = t1.estimateTableCardinality(0.8)
    val card2 = t2.estimateTableCardinality(0.2)
    assert(card1 == 8160L && card2 == 200L)
    val j = JoinEdge("t1", "t2", "c1", "c2", PredicateOp.EQ)
    val a = jo0.estimateJoinCardinality(j, card1, card2, t1pkey = true, t2pkey = false)
    assert(a == 8160L || a == 200L)
    val b = jo0.estimateJoinCardinality(j, card1, card2, t1pkey = false, t2pkey = true)
    assert(b == 8160L || b == 200L)
    // non-EQ: 0.3 * card1 * card2 (join_optimizer.cc:89-91)
    val c = jo0.estimateJoinCardinality(
      j.copy(op = PredicateOp.LE), card1, card2, t1pkey = false, t2pkey = false)
    assert(c == (0.3 * 8160 * 200).toLong)
  }

  private val isPkeyC0 = (_: String, col: String) => col == "c0"

  // optimizer_test.cc:414-500 — 4-table query; big `hobbies` must not be
  // the outermost-left table, nor force the cross-product extremes.
  test("OrderJoinsTest: hobbies not outermost") {
    val stats = Map(
      "emp" -> uniformStats(50000, 6, seed = 201),
      "dept" -> uniformStats(1000, 3, seed = 202),
      "hobby" -> uniformStats(1000, 6, seed = 203),
      "hobbies" -> uniformStats(100000, 2, seed = 204))
    val sel = Map("emp" -> 0.1, "dept" -> 1.0, "hobby" -> 1.0, "hobbies" -> 1.0)
    val nodes = Vector(
      JoinEdge("hobbies", "hobby", "c1", "c0", PredicateOp.EQ),
      JoinEdge("emp", "dept", "c1", "c0", PredicateOp.EQ),
      JoinEdge("emp", "hobbies", "c2", "c0", PredicateOp.EQ))
    val result = new JoinOptimizer(nodes).orderJoins(stats, sel, isPkeyC0)
    assert(result.size == nodes.size)
    assert(result(0).leftTable != "hobbies")
    assert(!(result(2).rightTable == "hobbies" &&
      (result(0).leftTable == "hobbies" || result(0).rightTable == "hobbies")))
  }

  // optimizer_test.cc:507-571 — 12 tables / 10 shuffled edges; big_table
  // must end up the outermost (right side of the last edge). The
  // reference's 600s ceiling is asserted here as < 60s wall.
  test("BigOrderJoinsTest: big_table outermost") {
    val t0 = System.nanoTime()
    val stats = scala.collection.mutable.Map(
      "big_table" -> uniformStats(100000, 2, seed = 300))
    val sel = scala.collection.mutable.Map("big_table" -> 1.0)
    for (i <- 0 until 11) {
      val name = ('a' + i).toChar.toString
      stats(name) = uniformStats(100, 2, seed = 301 + i)
      sel(name) = 1.0
    }
    val nodes = Vector(
      JoinEdge("a", "b", "c1", "c1", PredicateOp.EQ),
      JoinEdge("b", "c", "c0", "c0", PredicateOp.EQ),
      JoinEdge("c", "d", "c1", "c1", PredicateOp.EQ),
      JoinEdge("d", "e", "c0", "c0", PredicateOp.EQ),
      JoinEdge("e", "f", "c1", "c1", PredicateOp.EQ),
      JoinEdge("f", "g", "c0", "c0", PredicateOp.EQ),
      JoinEdge("g", "h", "c1", "c1", PredicateOp.EQ),
      JoinEdge("h", "i", "c0", "c0", PredicateOp.EQ),
      JoinEdge("i", "j", "c1", "c1", PredicateOp.EQ),
      JoinEdge("j", "big_table", "c2", "c2", PredicateOp.EQ))
    val shuffled = new scala.util.Random(7).shuffle(nodes)
    val result = new JoinOptimizer(shuffled)
      .orderJoins(stats.toMap, sel.toMap, isPkeyC0)
    assert(result.size == nodes.size)
    assert(result.last.rightTable == "big_table")
    assert((System.nanoTime() - t0) / 1e9 < 60.0)
  }

  // optimizer_test.cc:577-623 — one LE edge among 8 EQ edges over 9
  // uniform 100-row tables: the inequality join lands outermost.
  test("NonequalityOrderJoinsTest: LE join outermost") {
    val stats = (0 until 9).map { i =>
      ('a' + i).toChar.toString -> uniformStats(100, 2, seed = 400 + i)
    }.toMap
    val sel = stats.keys.map(_ -> 1.0).toMap
    val nodes = Vector(
      JoinEdge("a", "b", "c1", "c1", PredicateOp.LE),
      JoinEdge("b", "c", "c0", "c0", PredicateOp.EQ),
      JoinEdge("c", "d", "c1", "c1", PredicateOp.EQ),
      JoinEdge("d", "e", "c0", "c0", PredicateOp.EQ),
      JoinEdge("e", "f", "c1", "c1", PredicateOp.EQ),
      JoinEdge("f", "g", "c0", "c0", PredicateOp.EQ),
      JoinEdge("g", "h", "c1", "c1", PredicateOp.EQ),
      JoinEdge("h", "i", "c0", "c0", PredicateOp.EQ))
    val result = new JoinOptimizer(nodes).orderJoins(stats, sel, isPkeyC0)
    assert(result.size == nodes.size)
    assert(result.last.rightTable == "a" || result.last.leftTable == "a")
  }

  // The rule-path refinement: reference model says max(card1, card2) for
  // non-pkey EQ joins and trusts pkey flags; with a known 25-value
  // domain the System R form must dominate EVEN under a pkey flag (the
  // reference's prevHasPkey marks whole intermediates as pkey, hiding
  // m:n expansion), while genuine FK joins (ndv = keyed side's rows)
  // stay on the reference estimate because the two forms coincide.
  test("NdvAwareJoinOptimizer inflates m:n low-domain equi-joins") {
    val e = JoinEdge("s", "c", "s_nationkey", "c_nationkey", PredicateOp.EQ)
    val faithful = new JoinOptimizer(Vector(e))
    val refined = new graft.plans.NdvAwareJoinOptimizer(
      Vector(e), (_, _) => Some(25L))
    assert(faithful.estimateJoinCardinality(e, 4000L, 15000L, false, false) == 15000L)
    assert(refined.estimateJoinCardinality(e, 4000L, 15000L, false, false) ==
      4000L * 15000L / 25L)
    // pkey flag does NOT suppress the refinement (prevHasPkey quirk)
    assert(refined.estimateJoinCardinality(e, 4000L, 15000L, true, false) ==
      4000L * 15000L / 25L)
    // genuine FK: ndv = keyed side rows -> System R equals the FK estimate
    val fk = JoinEdge("l", "o", "l_orderkey", "o_orderkey", PredicateOp.EQ)
    val fkRefined = new graft.plans.NdvAwareJoinOptimizer(
      Vector(fk), (_, _) => Some(150000L))
    assert(fkRefined.estimateJoinCardinality(fk, 600000L, 150000L, false, true) == 600000L)
    // no domain info -> reference estimate
    val blind = new graft.plans.NdvAwareJoinOptimizer(Vector(e), (_, _) => None)
    assert(blind.estimateJoinCardinality(e, 4000L, 15000L, false, false) == 15000L)
  }

  // The DP calls orientedCardinality with an edge as written and, after
  // its orientation swap, the edge it joins. Written the other way round
  // the same join reaches the hook unswapped with both sides exchanged.
  // The rule's NdvAwareJoinOptimizer must estimate both alike; the base
  // keeps the reference quirk (cards unswapped, pkey flags swapped), so
  // one pkey side makes its estimate depend on the writing.
  test("orientedCardinality: NdvAware is orientation-free, the base keeps the quirk") {
    val e = JoinEdge("a", "b", "a_k", "b_k", PredicateOp.EQ)
    val j = e.swapInnerOuter // the join as the DP performs it: b then a
    val (cardA, cardB) = (1000L, 50L)
    val refined = Seq(None, Some(50L), Some(1000L)).map(ndv =>
      new graft.plans.NdvAwareJoinOptimizer(Vector(e), (_, _) => ndv))
    for ((pkA, pkB) <- Seq((false, true), (true, false), (false, false));
         jo <- refined :+ jo0) {
      // written a-first, swapped by the DP; written b-first, kept
      val writtenAB = jo.orientedCardinality(j, swapped = true, cardA, cardB, pkA, pkB)
      val writtenBA = jo.orientedCardinality(j, swapped = false, cardB, cardA, pkB, pkA)
      if (jo eq jo0) {
        assert(writtenAB == jo0.estimateJoinCardinality(j, cardA, cardB, pkB, pkA))
        assert(writtenBA == jo0.estimateJoinCardinality(j, cardB, cardA, pkB, pkA))
        if (pkA != pkB) assert(writtenAB != writtenBA, s"quirk gone for pkeys ($pkA, $pkB)")
      } else assert(writtenAB == writtenBA, s"pkeys ($pkA, $pkB): $writtenAB vs $writtenBA")
    }
    // one pkey side: the keyed side's partner sets the estimate
    assert(refined.head.orientedCardinality(j, swapped = true, cardA, cardB, false, true) == cardA)
  }

  // The memo's reference-faithful identity ignores op (PlanCache keys):
  // feeding orderJoins two edges identical up to op would alias one memo
  // slot and the DP could return a plan repeating one edge and DROPPING
  // the other — silent wrong joins downstream. The rule declines such
  // inputs before calling in; the public API must fail by name instead
  // of corrupting.
  test("orderJoins refuses edge sets identical up to op") {
    val eq = JoinEdge("a", "b", "x", "y", PredicateOp.EQ)
    val lt = JoinEdge("a", "b", "x", "y", PredicateOp.LT)
    val other = JoinEdge("b", "c", "y", "z", PredicateOp.EQ)
    val stats = Map("a" -> uniformStats(1000, 2, 1),
      "b" -> uniformStats(1000, 2, 2), "c" -> uniformStats(1000, 2, 3))
    val err = intercept[IllegalArgumentException](
      new JoinOptimizer(Vector(eq, lt, other))
        .orderJoins(stats, Map.empty, (_, _) => false))
    assert(err.getMessage.contains("identical up to op"))
    // a literally duplicated edge (same op) stays legal — distinct()
    // collapses it before the check
    assert(new JoinOptimizer(Vector(eq, eq, other))
      .orderJoins(stats, Map.empty, (_, _) => false).nonEmpty)
  }
}
