package graft

import graft.plans.SelingerJoinReorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the Catalyst-integrated Selinger reorder rule: the DP must
  * pull a big fact table out of the outermost-left position of a badly
  * written join chain, leave results semantically identical, keep
  * non-eligible plans untouched, and settle inside the optimizer's
  * fixed-point batches.
  */
class SelingerRuleSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Leaf relations in DFS order (= left-deep join order), identified by
    * their first output column ("l_orderkey" -> lineitem etc).
    */
  private def joinChainLeaves(p: LogicalPlan): Seq[String] =
    p.collectLeaves().map(_.output.headOption.map(_.name).getOrElse("?"))

  test("rule reorders a nation-first chain and preserves the result") {
    val li = graft.core.Catalog.table(spark, dir, "lineitem")
    val o = graft.core.Catalog.table(spark, dir, "orders")
    val c = graft.core.Catalog.table(spark, dir, "customer")
    val n = graft.core.Catalog.table(spark, dir, "nation")

    // the same chain authored from either end: the rule's order depends
    // only on the query, so both come out with the same leaves
    val liFirst = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .select(li("l_orderkey"), n("n_name"))
    val q = n
      .join(c, c("c_nationkey") === n("n_nationkey"))
      .join(o, o("o_custkey") === c("c_custkey"))
      .join(li, li("l_orderkey") === o("o_orderkey"))
      .select(li("l_orderkey"), n("n_name"))

    val before = q.queryExecution.optimizedPlan
    val after = SelingerJoinReorder(before)

    assert(after ne before, "rule should have rewritten the join tree")
    assert(joinChainLeaves(before).head.startsWith("n_"))
    val expectedLeaves = joinChainLeaves(SelingerJoinReorder(liFirst.queryExecution.optimizedPlan))
    assert(joinChainLeaves(after) == expectedLeaves,
      s"nation-first authoring ordered ${joinChainLeaves(after)}, lineitem-first $expectedLeaves")

    // semantics preserved: execute the rewritten plan and compare
    val expected = q.collect().map(_.toSeq).toSet
    val got = org.apache.spark.sql.GraftSqlBridge
      .datasetOfRows(spark, after).collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("rule is idempotent and ignores non-inner / tiny joins") {
    val a = graft.core.Catalog.table(spark, dir, "region")
    val b = graft.core.Catalog.table(spark, dir, "nation")
    val two = a.join(b, a("r_regionkey") === b("n_regionkey"))
      .queryExecution.optimizedPlan
    assert(SelingerJoinReorder(two).canonicalized == two.canonicalized)

    val outer = a.join(b, a("r_regionkey") === b("n_regionkey"), "left")
      .queryExecution.optimizedPlan
    assert(SelingerJoinReorder(outer).canonicalized == outer.canonicalized)
  }

  test("extension registers the native expressions as SQL functions") {
    val s2 = SharedSpark.sparkWithExtensions
    val r = s2.sql(
      """SELECT simhash64(split('the quick brown fox', ' ')) AS sh,
                size(word_shingles('a b c d', 2)) AS n_sh,
                size(minhash_sig(word_shingles('a b c d', 2), 16)) AS n_mh,
                dot_product(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
                            array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS dp
      """).head()
    assert(r.getLong(0) != 0L)
    assert(r.getInt(1) == 3 && r.getInt(2) == 16)
    assert(r.getDouble(3) == 11.0)
  }

  test("mistyped SQL calls to the native functions fail at ANALYSIS, not mid-job") {
    // regression: without checkInputDataTypes these analyzed fine and
    // died in an executor with an unhelpful ClassCastException
    val s2 = SharedSpark.sparkWithExtensions
    for (bad <- Seq(
      "SELECT simhash64(1)",
      "SELECT word_shingles(array(1), 2)",
      "SELECT dot_product(1.0, 2.0)",
      "SELECT rolling_fingerprint(array('x'))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](s2.sql(bad).head())
      assert(e.getMessage.toLowerCase.contains("requires") ||
        e.getMessage.contains("DATATYPE_MISMATCH"),
        s"$bad: expected a type error at analysis, got: ${e.getMessage.take(120)}")
      // the message must NAME the function — a $$-escaped interpolation
      // once printed the literal text "$prettyName" instead
      assert(!e.getMessage.contains("$prettyName"),
        s"$bad: unresolved prettyName interpolation in: ${e.getMessage.take(120)}")
    }
    // wrong ARITY must fail with the function's name and expected count,
    // not a bare IndexOutOfBoundsException from args(1)
    val ea = intercept[Exception](s2.sql("SELECT word_shingles('a b c')").head())
    assert(ea.getMessage.contains("word_shingles expects 2"),
      s"arity error must name the function: ${ea.getMessage.take(120)}")
    // value (not type) contract: w <= 0 would walk the shingle loop past
    // the token array and AIOOBE per row on executors — refused at
    // construction with a named error instead
    val ew = intercept[Exception](s2.sql("SELECT word_shingles('a b c', 0)").head())
    assert(SharedSpark.messages(ew).exists(_.contains("width must be >= 1")),
      s"expected the named width error, got: $ew")
  }

  test("registered stats: a selective filter changes the chosen order") {
    // Register real TableStats (row counts + histograms) so the rule's
    // estimates are stats-driven, like the reference's order_joins fed by
    // filterSelectivities (optimizer_test.cc:452-462).
    Seq("lineitem", "orders", "customer", "nation")
      .foreach(n => graft.core.Catalog.stats(spark, dir, n))
    val li = graft.core.Catalog.table(spark, dir, "lineitem")
    val o = graft.core.Catalog.table(spark, dir, "orders")
    val c = graft.core.Catalog.table(spark, dir, "customer")
    val n = graft.core.Catalog.table(spark, dir, "nation")
    def chain(of: org.apache.spark.sql.DataFrame) = li
      .join(of, li("l_orderkey") === of("o_orderkey"))
      .join(c, of("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .select(li("l_orderkey"), n("n_name"))

    val unfiltered = chain(o)
    val filtered = chain(o.where(o("o_orderkey") < 10))
    val unfLeaves = joinChainLeaves(
      SelingerJoinReorder(unfiltered.queryExecution.optimizedPlan))
    val filPlan = SelingerJoinReorder(filtered.queryExecution.optimizedPlan)
    val filLeaves = joinChainLeaves(filPlan)
    assert(unfLeaves != filLeaves,
      s"selective filter did not change the order: $unfLeaves vs $filLeaves")
    assert(filLeaves.head.startsWith("o_"),
      s"near-empty filtered orders should lead the plan: $filLeaves")

    val expected = filtered.collect().map(_.toSeq).toSet
    val got = org.apache.spark.sql.GraftSqlBridge
      .datasetOfRows(spark, filPlan).collect().map(_.toSeq).toSet
    assert(got == expected)

    // timestamp-literal predicates feed the epoch-micros histograms the
    // same way: a near-empty date window also pulls orders to the front
    import org.apache.spark.sql.functions.{col, lit}
    val dateFiltered = chain(o.where(
      o("o_orderdate") < lit("1995-02-01").cast("timestamp")))
    val dateLeaves = joinChainLeaves(
      SelingerJoinReorder(dateFiltered.queryExecution.optimizedPlan))
    assert(dateLeaves != unfLeaves && dateLeaves.head.startsWith("o_"),
      s"date filter should reorder like the key filter did: $dateLeaves")
  }

  test("theta + duplicate-pair edges reorder and preserve results") {
    // Mirrors the reference's NonequalityOrderJoinsTest
    // (optimizer_test.cc:577-623) through spark.sql: one table pair
    // carries BOTH an equi edge and an inequality edge.
    val s2 = SharedSpark.sparkWithExtensions
    Seq("lineitem", "orders", "customer").foreach { t =>
      graft.core.Catalog.table(s2, dir, t).createOrReplaceTempView(t)
      graft.core.Catalog.table(spark, dir, t).createOrReplaceTempView(t)
    }
    val sql =
      """SELECT count(*) AS cnt
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND o_orderkey > c_custkey""".stripMargin
    val withRule = s2.sql(sql)
    // the rule must have engaged: join leaves no longer in authored order
    val leaves = joinChainLeaves(withRule.queryExecution.optimizedPlan)
    assert(!leaves.head.startsWith("l_"),
      s"big lineitem still outermost with a theta edge present: $leaves")
    assert(withRule.head().getLong(0) == spark.sql(sql).head().getLong(0))
  }

  test("7-table FK chain through spark.sql: reordered, result-identical") {
    val s2 = SharedSpark.sparkWithExtensions
    val tables = Seq("region", "nation", "customer", "orders",
      "lineitem", "part", "supplier")
    tables.foreach { t =>
      graft.core.Catalog.stats(spark, dir, t) // registered, full stats
      graft.core.Catalog.table(s2, dir, t).createOrReplaceTempView(t)
      graft.core.Catalog.table(spark, dir, t).createOrReplaceTempView(t)
    }
    val sql =
      """SELECT count(*) AS cnt
        |FROM lineitem, region, nation, customer, orders, part, supplier
        |WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND o_totalprice > 150000""".stripMargin
    val withRule = s2.sql(sql)
    val leaves = joinChainLeaves(withRule.queryExecution.optimizedPlan)
    assert(leaves.size == 7)
    assert(!leaves.head.startsWith("l_"),
      s"600k-row lineitem authored first should not stay outermost: $leaves")
    assert(withRule.head().getLong(0) == spark.sql(sql).head().getLong(0))
  }

  test("relation with no join edge: rule declines, cross join still runs") {
    // `FROM r, n, c WHERE r_regionkey = n_regionkey` leaves customer
    // edgeless; the fold can never place it, so the rule must decline
    // rather than drop it (the rebuilt tree would reference absent
    // attributes and die at physical planning — advisor round 3).
    val s2 = SharedSpark.sparkWithExtensions
    Seq("region", "nation", "customer").foreach { t =>
      graft.core.Catalog.table(s2, dir, t).createOrReplaceTempView(t)
      graft.core.Catalog.table(spark, dir, t).createOrReplaceTempView(t)
    }
    val sql =
      """SELECT count(*) AS cnt
        |FROM region, nation, customer
        |WHERE r_regionkey = n_regionkey""".stripMargin
    assert(s2.sql(sql).head().getLong(0) == spark.sql(sql).head().getLong(0))
  }

  test("op-ambiguous duplicate edges (join_optimizer.h:26-33 wart): rule declines, result correct") {
    // Reference quirk, cite-and-decide (r7 verdict #5): the reference's
    // LogicalJoinNode set-identity IGNORES the predicate op
    // (join_optimizer.h:26-33) — two edges identical up to op collide in
    // its std::set and PlanCache memo. We keep JoinEdge distinct by op
    // (JoinGraph.scala:14-18) but the memo keys stay reference-faithful
    // op-blind (JoinGraph.scala:53-61), so the RULE must detect the
    // collision and decline rather than let the two predicates alias one
    // memo entry and drop one from the rebuilt tree. Same column pair, two
    // different ops — also when the pair is written both ways, which is
    // one edge and its swapped copy once the rule writes every edge in one
    // direction:
    val s2 = SharedSpark.sparkWithExtensions
    Seq("lineitem", "orders", "customer").foreach { t =>
      graft.core.Catalog.table(s2, dir, t).createOrReplaceTempView(t)
      graft.core.Catalog.table(spark, dir, t).createOrReplaceTempView(t)
    }
    for (pair <- Seq(
        "o_custkey = c_custkey AND o_custkey >= c_custkey",
        "o_custkey = c_custkey AND c_custkey <= o_custkey",
        "o_custkey <= c_custkey AND c_custkey <= o_custkey",
        "o_custkey < c_custkey AND c_custkey < o_custkey")) {
      val sql =
        s"""SELECT count(*) AS cnt
           |FROM lineitem, orders, customer
           |WHERE l_orderkey = o_orderkey AND $pair""".stripMargin
      // decline = authored order survives (lineitem stays outermost)…
      val leaves = joinChainLeaves(s2.sql(sql).queryExecution.optimizedPlan)
      assert(leaves.head.startsWith("l_"),
        s"rule should decline on op-ambiguous duplicate edges ($pair): $leaves")
      // …and BOTH predicates still apply (a memo collision would drop one)
      assert(s2.sql(sql).head().getLong(0) == spark.sql(sql).head().getLong(0), pair)
    }
  }

  test("duplicate-name conjuncts into one opaque leaf: rule declines, both predicates hold") {
    // JoinEdge identity is by column NAME. A HINTED join stays an opaque
    // flattened leaf and can expose two attributes named "v"; conjuncts
    // binding big.a to EACH of them collapse to one JoinEdge, and the
    // rebuilt tree would enforce only one predicate — silent extra rows.
    // The rule must decline when one edge key carries two distinct
    // attribute bindings; parity with the plain session is the gate.
    val s2 = SharedSpark.sparkWithExtensions
    def q(s: org.apache.spark.sql.SparkSession): Long = {
      import s.implicits._
      val t1 = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
      val t2 = Seq((1L, 10L), (2L, 25L), (3L, 30L)).toDF("k", "v")
      // hinted -> JoinHint != NONE -> flatten() keeps it one leaf with
      // duplicate output names v#1, v#2
      val leaf = t1.join(t2.hint("broadcast"), t1("k") === t2("k"))
      val big1 = Seq((10L, 1L), (25L, 2L), (30L, 3L)).toDF("a", "x")
      val big2 = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("x", "pad")
      val v1 = t1("v"); val v2 = t2("v")
      // three relations (big1, big2, leaf), spine of unhinted inner
      // joins; the two v-conjuncts must BOTH survive: rows where
      // t1.v != t2.v (k=2) match only one of them
      big1.join(big2, Seq("x"))
        .join(leaf, big1("a") === v1 && big1("a") === v2)
        .count()
    }
    assert(q(s2) == q(spark), "extension session must return the plain result")
    assert(q(spark) == 2L) // k=1 and k=3 rows; k=2 (10 vs 25) matches neither twice
  }

  test("extension-installed session reorders spark.sql multi-joins") {
    val s2 = SharedSpark.sparkWithExtensions
    Seq("lineitem", "orders", "customer", "nation").foreach { t =>
      graft.core.Catalog.table(s2, dir, t).createOrReplaceTempView(t)
    }
    val df = s2.sql(
      """SELECT n_name, count(*) AS cnt
        |FROM lineitem, orders, customer, nation
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    val leaves = joinChainLeaves(df.queryExecution.optimizedPlan)
    assert(!leaves.head.startsWith("l_"), s"leaves: $leaves")
    assert(df.count() > 0)
  }

  /** The engine session with full stats registered for every table, as
    * Verify, Bench and PlanAudit plan.
    */
  private lazy val statsSession = {
    val s2 = SharedSpark.sparkWithExtensions
    graft.core.Catalog.tableNames.foreach { t =>
      graft.stats.StatsRegistry.register(graft.core.Catalog.table(s2, dir, t),
        graft.core.Catalog.stats(s2, dir, t))
    }
    s2
  }

  // Leaf order of the optimized plan, by first output column, under the
  // engine session with full stats registered. PLANS.md records exchange
  // counts, not order, so a change in where or how the rule runs (e.g.
  // injecting it pre-CBO instead of as an optimizer rule) shows up here
  // first. q05 is a plain join chain ordered by the same rule.
  private val pinnedOrders: Map[String, Seq[String]] = Map(
    "q05_join_opt" -> Seq("l_orderkey", "o_orderkey", "c_custkey", "n_nationkey"),
    "q51_tpch_q1" -> Seq("l_orderkey"),
    "q52_tpch_q3" -> Seq("c_custkey", "o_orderkey", "l_orderkey"),
    "q53_tpch_q5" -> Seq("s_suppkey", "n_nationkey", "r_regionkey", "c_custkey",
      "o_orderkey", "l_orderkey"),
    "q54_tpch_q6" -> Seq("l_orderkey"),
    "q55_tpch_q10" -> Seq("o_orderkey", "c_custkey", "n_nationkey", "l_orderkey"),
    "q69_tpch_q4" -> Seq("o_orderkey", "l_orderkey"),
    "q70_tpch_q14" -> Seq("l_orderkey", "p_partkey"),
    "q71_tpch_q19" -> Seq("l_orderkey", "p_partkey"),
    "q72_tpch_q17" -> Seq("p_partkey", "l_orderkey", "l_orderkey"),
    "q73_tpch_q2" -> Seq("l_orderkey", "p_partkey", "s_suppkey"),
    "q74_tpch_q7" -> Seq("n_nationkey", "s_suppkey", "l_orderkey", "o_orderkey",
      "c_custkey", "n_nationkey"),
    "q75_tpch_q13" -> Seq("c_custkey", "o_orderkey"),
    "q76_tpch_q18" -> Seq("l_orderkey", "o_orderkey", "c_custkey"),
    "q77_tpch_q22" -> Seq("c_custkey", "o_orderkey", "c_custkey"),
    "q78_tpch_q15" -> Seq("s_suppkey", "l_orderkey", "l_orderkey"),
    "q79_tpch_q16" -> Seq("l_orderkey", "s_suppkey", "p_partkey"),
    "q80_tpch_q21" -> Seq("s_suppkey", "l_orderkey", "l_orderkey", "o_orderkey",
      "l_orderkey"),
    "q86_tpch_q8" -> Seq("s_suppkey", "l_orderkey", "p_partkey", "o_orderkey",
      "c_custkey", "n_nationkey", "r_regionkey", "n_nationkey"),
    "q87_tpch_q9" -> Seq("s_suppkey", "n_nationkey", "l_orderkey", "p_partkey",
      "o_orderkey"),
    "q88_tpch_q11" -> Seq("l_orderkey", "s_suppkey", "l_orderkey", "s_suppkey"),
    "q89_tpch_q12" -> Seq("o_orderkey", "l_orderkey"),
    "q90_tpch_q20" -> Seq("s_suppkey", "l_orderkey", "l_orderkey"))

  test("chosen join order is pinned for q05 and the TPC-H-block queries") {
    val s2 = statsSession
    assert(pinnedOrders.keySet ==
      SparkEntry.queries.keySet.filter(_.contains("_tpch_")) + "q05_join_opt")
    // every moved query in one failure message, not just the first
    val moved = pinnedOrders.toSeq.sortBy(_._1).flatMap { case (n, expected) =>
      val leaves = joinChainLeaves(
        SparkEntry.queries(n)(s2, dir).queryExecution.optimizedPlan)
      if (leaves == expected) None else Some(s"$n: $expected -> $leaves")
    }
    assert(moved.isEmpty, s"join order changed:\n${moved.mkString("\n")}")
  }

  // The rule runs inside Catalyst's fixed-point batches, so it must
  // settle: its answer may depend only on the query (relations,
  // conjuncts, stats), never on the order the previous iteration left the
  // joins in, and a chain that already has that order must be left
  // alone. A rule that keeps rewriting runs each batch to its cap.

  test("every batch query's reorder rule settles below the optimizer's iteration cap") {
    val cap = statsSession.conf.get("spark.sql.optimizer.maxIterations").toInt
    val unsettled = Queries.specs.filterNot(_.streaming).map(_.name).sorted
      .filterNot(PlanAudit.planlessQueries).flatMap { n =>
        val qe = SparkEntry.queries(n)(statsSession, dir).queryExecution
        qe.optimizedPlan
        val runs = qe.tracker.rules.get(SelingerJoinReorder.ruleName)
          .map(_.numInvocations).getOrElse(0L)
        if (runs >= cap) Some(s"$n: $runs") else None
      }
    assert(unsettled.isEmpty,
      s"SelingerJoinReorder ran $cap or more times (never settled) in: $unsettled")
  }

  /** One relation of a join graph: every column renamed `<alias>__<col>`
    * so the optimized plan's leaves say which relation they are, with an
    * optional integer range filter.
    */
  private def rel(alias: String, table: String,
      filter: Option[(String, Long, Long)] = None): (String, DataFrame) = {
    val base = graft.core.Catalog.table(statsSession, dir, table)
    val df = base.select(base.columns.map(c => col(c).as(s"${alias}__$c")).toIndexedSeq: _*)
    alias -> filter.fold(df) { case (c, lo, hi) => df.where(col(s"${alias}__$c").between(lo, hi)) }
  }

  /** Inner-join `rels` in the listed order; each relation joins the ones
    * before it through every edge that reaches them, each condition
    * written as the edge lists it or, if `flipped`, the other way round.
    */
  private def chain(rels: Seq[(String, DataFrame)],
      edges: Seq[(String, String, String, String)], flipped: Boolean): DataFrame = {
    def c(a: String, f: String) = col(s"${a}__$f")
    rels.tail.foldLeft((rels.head._2, Set(rels.head._1))) { case ((acc, joined), (a, df)) =>
      val on = edges.collect {
        case (l, lc, r, rc) if (l == a && joined(r)) || (r == a && joined(l)) =>
          if (flipped) c(r, rc) === c(l, lc) else c(l, lc) === c(r, rc)
      }
      (acc.join(df, on.reduce(_ && _)), joined + a)
    }._1.groupBy().count()
  }

  /** Aliases of the top join chain's leaves, left to right. */
  private def chainOrder(p: LogicalPlan): Seq[String] = {
    def leaves(q: LogicalPlan): Seq[LogicalPlan] = q match {
      case Join(l, r, Inner, _, _) => leaves(l) ++ leaves(r)
      case Project(_, j: Join) => leaves(j)
      case other => Seq(other)
    }
    leaves(p.collectFirst { case j: Join => j }.get)
      .map(_.output.head.name.takeWhile(_ != '_'))
  }

  /** The plan with the rule's settled marks removed, so applying the rule
    * runs the DP again instead of skipping on a mark.
    */
  private def unmarked(p: LogicalPlan): LogicalPlan = {
    val copy = p.clone()
    copy.foreach(_.unsetTagValue(SelingerJoinReorder.OrderedTag))
    copy
  }

  // The two-`part` self-join (lineitem, part, part, supplier) and TPC-H
  // Q9's five relations, each authored in two relation orders and once
  // more with every join condition written the other way round.
  private def shapes: Seq[(String, Seq[(Seq[(String, DataFrame)], Boolean)], Seq[(String, String, String, String)])] = {
    val (p1, l1, s1, p2) = (rel("p1", "part", Some(("p_size", 26L, 48L))), rel("l1", "lineitem"),
      rel("s1", "supplier", Some(("s_nationkey", 4L, 14L))), rel("p2", "part", Some(("p_size", 9L, 38L))))
    val (l, p, s, o, n) = (rel("l", "lineitem"), rel("p", "part", Some(("p_size", 1L, 10L))),
      rel("s", "supplier"), rel("o", "orders"), rel("n", "nation"))
    Seq(
      ("two-part self-join",
        Seq((Seq(p1, l1, s1, p2), false), (Seq(s1, l1, p2, p1), false), (Seq(p1, l1, s1, p2), true)),
        Seq(("p1", "p_partkey", "l1", "l_partkey"), ("l1", "l_suppkey", "s1", "s_suppkey"),
          ("l1", "l_partkey", "p2", "p_partkey"))),
      ("TPC-H Q9",
        Seq((Seq(l, p, s, o, n), false), (Seq(n, s, l, o, p), false), (Seq(l, p, s, o, n), true)),
        Seq(("l", "l_partkey", "p", "p_partkey"), ("l", "l_suppkey", "s", "s_suppkey"),
          ("l", "l_orderkey", "o", "o_orderkey"), ("s", "s_nationkey", "n", "n_nationkey"))))
  }

  test("chosen leaf order does not depend on the authored relation order") {
    val differing = shapes.flatMap { case (shape, authorings, edges) =>
      val orders = authorings.map { case (rs, flipped) =>
        chainOrder(chain(rs, edges, flipped).queryExecution.optimizedPlan)
      }
      if (orders.distinct.size == 1) None else Some(s"$shape: $orders")
    }
    assert(differing.isEmpty, s"authorings chose different orders:\n${differing.mkString("\n")}")
  }

  test("the optimized plan is a fixed point of the rule") {
    val rewritten = shapes.flatMap { case (shape, authorings, edges) =>
      authorings.flatMap { case (rs, flipped) =>
        val plan = unmarked(chain(rs, edges, flipped).queryExecution.optimizedPlan)
        val again = SelingerJoinReorder(plan)
        if (again == plan) None
        else Some(s"$shape authored ${rs.map(_._1)}${if (flipped) " flipped" else ""}: " +
          s"${chainOrder(plan)} -> ${chainOrder(again)}")
      }
    }
    assert(rewritten.isEmpty, s"the rule rewrote its own output:\n${rewritten.mkString("\n")}")
  }
}
