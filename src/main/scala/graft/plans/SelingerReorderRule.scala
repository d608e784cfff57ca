package graft.plans

import graft.stats.{PredicateOp, StatsRegistry, TableStats}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Literal, Not, Or, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Catalyst integration of the Selinger DP (SURVEY §4.3): an optimizer
  * rule that detects chains of inner equi-joins over base relations and
  * rewrites them into the left-deep order chosen by one
  * [[JoinOptimizer.orderJoins]] call under the reference's NLJ cost model,
  * with [[NdvAwareJoinOptimizer]]'s cardinalities. It is the engine's only
  * join-order front end: the flagship q05 is a plain join chain ordered
  * here like any other.
  *
  * This is the Spark-first packaging of the reference's core deliverable:
  * instead of an external planner producing a call sequence, the DP runs
  * inside Catalyst where it applies to ANY DataFrame/SQL query. Physical
  * algorithm selection (broadcast/hash/merge) stays with Spark's
  * JoinSelection — this rule only fixes the ORDER, exactly like the
  * reference (`/root/reference/src/optimizer/join_optimizer.cc:108-137`
  * produces an order and owns no executor).
  *
  * Statistics: the rule peels each join input down to its base relation,
  * collecting the Filter conjuncts above it, then sources per-relation
  * stats in preference order — (1) [[StatsRegistry]] entries (true row
  * counts + integer histograms, pre-built once per table like the
  * reference's persisted catalog), with filter selectivity estimated per
  * conjunct through [[TableStats.estimateSelectivity]] exactly as the
  * reference feeds `filterSelectivities` into `order_joins`
  * (`/root/reference/test/unit/optimizer/optimizer_test.cc:452-462`);
  * (2) the plan's CBO rowCount; (3) a size-in-bytes / default-row-width
  * guess. Conjuncts without a usable histogram fall back to System R
  * constants (EQ 0.1, range 0.3). Optimization never triggers Spark jobs
  * — registry lookup is a map read.
  *
  * Join edges cover all six predicate ops of the reference's DP (EQ plus
  * the theta ops via `<`,`<=`,`>`,`>=`,`!=`), and multiple edges between
  * the same table pair are allowed (the extra edges land as residual
  * Filters over the join, like the reference's plan application); only
  * edges identical up to op once written in one direction are declined,
  * since the memo's reference-faithful identity ignores op
  * ([[PlanCache]]).
  *
  * Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or applied
  * directly to an optimized plan.
  */
object SelingerJoinReorder extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxEdges = 12 // DP is exponential; the reference caps at ~10

  /** Marks the spine joins of a chain this rule already settled, keyed by
    * the CONTENT of each join's subtree (canonicalized hash), not a bare
    * boolean. The rule is injected via `injectOptimizerRule`, which places
    * it in the operator-optimization FIXED-POINT batches: it can fire
    * before other rules (multi-iteration filter pushdown, collapsed
    * projects) have finished reshaping the chain's inputs. A boolean tag
    * would lock in that early decision forever (withNewChildren COPIES
    * tags onto the rebuilt node), silently suppressing the
    * histogram-driven reorder exactly when the late-arriving filter would
    * have changed it. The hash tag re-arms automatically: a tagged join
    * whose subtree has changed since hashes differently and re-enters the
    * DP; an untouched one skips.
    *
    * Why the batch converges: the rule's answer depends only on the
    * query, not on the tree the previous iteration left. Relations are
    * named by a position-free key ([[relationKey]]) and every edge is
    * written in one canonical direction, so the DP sees the same input
    * whatever the current order and whichever way a condition reads. A
    * chain whose left-deep spine already has that order is settled, not
    * rebuilt — looking through the attribute-only Projects that column
    * pruning keeps re-inserting between the joins — so once the rest of
    * the batch stops changing the leaves, the rule stops changing the
    * plan. Settling on whole-tree equality instead rebuilt every chain on
    * every iteration (pruning re-adds its Projects after each rebuild).
    */
  private[graft] val OrderedTag = TreeNodeTag[Int]("graft.selinger.ordered")

  private def settled(j: Join): Boolean =
    j.getTagValue(OrderedTag).contains(j.canonicalized.hashCode)

  private def settle(j: Join): Unit =
    j.setTagValue(OrderedTag, j.canonicalized.hashCode)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(_, _, Inner, _, _) if !settled(j) =>
      // Only the SPINE joins of a chain are tagged (at construction, or
      // when the chain settles in place), so transformDown does not re-plan
      // a spine's prefixes as chains of their own. Chains NESTED INSIDE
      // the flattened leaves — e.g. an inner-join chain under an Aggregate
      // subquery — stay untagged and get their own DP. An ineligible join
      // (None) stays untagged and eligible for later iterations.
      reorder(j).getOrElse(j)
  }

  /** An unhinted inner join, seen through the attribute-only Project that
    * column pruning interleaves between joins.
    */
  private object ChainJoin {
    def unapply(p: LogicalPlan): Option[Join] = p match {
      case j @ Join(_, _, Inner, _, JoinHint.NONE) => Some(j)
      case Project(projectList, j @ Join(_, _, Inner, _, JoinHint.NONE))
          if projectList.forall(_.isInstanceOf[Attribute]) => Some(j)
      case _ => None
    }
  }

  /** Flatten a tree of unhinted inner joins into (relations in DFS order,
    * conjunctive conditions, the spine joins), looking through the
    * attribute-only Projects that column pruning interleaves between joins
    * (the rebuilt tree restores the final output order, and pruning re-runs
    * in the same fixed-point batch).
    */
  private def flatten(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression], Seq[Join]) =
    p match {
      case ChainJoin(j) =>
        val (lr, lc, lj) = flatten(j.left)
        val (rr, rc, rj) = flatten(j.right)
        (lr ++ rr, lc ++ rc ++ j.condition.toSeq.flatMap(splitConjunctivePredicates),
          j +: (lj ++ rj))
      case other => (Seq(other), Seq.empty, Seq.empty)
    }

  /** A name for a chain relation that does not depend on where the
    * relation sits in the current tree: the smallest exprId in the output
    * of its peeled base relation (the leaf's own output if the base has
    * none). Distinct relations of one plan never share an attribute.
    */
  private def relationKey(rel: LogicalPlan): Long = {
    val base = peel(rel)._1.output
    (if (base.nonEmpty) base else rel.output).map(_.exprId.id).minOption
      .getOrElse(Long.MaxValue)
  }

  /** Strip the Filter/Project stack off a join input, returning the base
    * relation and the filter conjuncts above it (projection doesn't change
    * cardinality, so it is looked through for estimation only — the
    * original subtree is what gets placed back into the rebuilt tree).
    */
  private def peel(p: LogicalPlan): (LogicalPlan, Seq[Expression]) = p match {
    case Filter(cond, child) =>
      val (b, fs) = peel(child)
      (b, fs ++ splitConjunctivePredicates(cond))
    case Project(_, child) => peel(child)
    case other => (other, Seq.empty)
  }

  // System R fallback selectivities for conjuncts with no usable histogram
  private val EqSel = 0.1
  private val RangeSel = 0.3
  private val OtherSel = 0.25

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Byte, _) => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
  }

  /** Per-conjunct selectivity: histogram-backed when the relation has
    * registered stats covering the column (mirrors the reference's
    * estimate paths in `table_stats.cc:186-226`); equality against any
    * literal falls back to 1/ndv (System R) when a distinct-count is
    * known — this is what prices `r_name = 'ASIA'` at 1/5 instead of a
    * blanket constant; System R constants otherwise.
    */
  private def predicateSelectivity(ts: Option[TableStats], e: Expression): Double = {
    def hist(a: Attribute, op: PredicateOp, v: Long, fallback: Double): Double =
      ts.filter(_.hasHistogram(a.name))
        .map(_.estimateSelectivity(a.name, op, v))
        .getOrElse(fallback)
    def eqNdv(a: Attribute): Double =
      ts.flatMap(_.estimateNdv(a.name))
        .map(n => 1.0 / math.max(1L, n)).getOrElse(EqSel)
    e match {
      case IsNotNull(_) => 1.0
      case EqualTo(a: Attribute, IntLit(v)) => hist(a, PredicateOp.EQ, v, eqNdv(a))
      case EqualTo(IntLit(v), a: Attribute) => hist(a, PredicateOp.EQ, v, eqNdv(a))
      case LessThan(a: Attribute, IntLit(v)) => hist(a, PredicateOp.LT, v, RangeSel)
      case LessThan(IntLit(v), a: Attribute) => hist(a, PredicateOp.GT, v, RangeSel)
      case LessThanOrEqual(a: Attribute, IntLit(v)) => hist(a, PredicateOp.LE, v, RangeSel)
      case LessThanOrEqual(IntLit(v), a: Attribute) => hist(a, PredicateOp.GE, v, RangeSel)
      case GreaterThan(a: Attribute, IntLit(v)) => hist(a, PredicateOp.GT, v, RangeSel)
      case GreaterThan(IntLit(v), a: Attribute) => hist(a, PredicateOp.LT, v, RangeSel)
      case GreaterThanOrEqual(a: Attribute, IntLit(v)) => hist(a, PredicateOp.GE, v, RangeSel)
      case GreaterThanOrEqual(IntLit(v), a: Attribute) => hist(a, PredicateOp.LE, v, RangeSel)
      case Not(inner) => math.max(0.0, 1.0 - predicateSelectivity(ts, inner))
      case And(l, r) => predicateSelectivity(ts, l) * predicateSelectivity(ts, r)
      case Or(l, r) =>
        val (a, b) = (predicateSelectivity(ts, l), predicateSelectivity(ts, r))
        math.min(1.0, a + b - a * b)
      case In(a: Attribute, list) => math.min(1.0, eqNdv(a) * list.size)
      case In(_, list) => math.min(1.0, EqSel * list.size)
      case EqualTo(a: Attribute, l) if l.foldable => eqNdv(a)
      case EqualTo(l, a: Attribute) if l.foldable => eqNdv(a)
      case _: EqualTo | _: EqualNullSafe => EqSel
      case _: LessThan | _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual => RangeSel
      case _ => OtherSel
    }
  }

  /** Stats of a base relation with no registered entry: its pages from
    * Spark's size-in-bytes, its rows from the CBO rowCount or, without
    * one, from a default in-memory row width against the (compressed)
    * file bytes. Spark's size estimate is a BigInt that passes
    * Long.MaxValue over opaque leaves such as a flattened join, so each
    * value saturates at Long.MaxValue instead of wrapping negative.
    */
  private[plans] def fallbackStats(base: LogicalPlan): TableStats = {
    val s = base.stats
    val bytes = s.sizeInBytes
    val maxLong = BigInt(Long.MaxValue)
    val ps = BigInt(TableStats.PageSizeBytes)
    val pages = ((bytes + ps - 1) / ps).max(1).min(maxLong).toLong
    val rowSize = math.max(8L, base.output.map(_.dataType.defaultSize.toLong).sum)
    val rows = s.rowCount.map(_.min(maxLong).toLong)
      .getOrElse((bytes / rowSize).max(1).min(maxLong).toLong)
    TableStats.fromHistograms(rows, 100.0, pages, IndexedSeq.empty)
  }

  private def reorder(root: Join): Option[LogicalPlan] = {
    val (rels, conds, spineJoins) = flatten(root)
    if (rels.size < 3 || rels.size > MaxEdges + 1) return None

    // zero-padded so the DP's string order is the key order; the stable
    // sort falls back to position only if two keys were ever equal
    val names: Map[LogicalPlan, String] =
      rels.sortBy(relationKey).zipWithIndex.map { case (r, i) => r -> f"r$i%02d" }.toMap
    def relOf(a: Attribute): Option[LogicalPlan] =
      rels.find(_.outputSet.contains(a))

    // Classify each conjunct: a two-relation comparison in one of the
    // DP's six ops becomes a join edge; a deterministic single-relation
    // conjunct becomes a residual filter on that side (lowering its
    // cardinality estimate and re-applied in the rebuilt tree); anything
    // else (multi-relation non-binary shapes, nondeterminism) declines.
    val edgeSpecs = Vector.newBuilder[(JoinEdge, Map[String, Attribute])]
    val residual = scala.collection.mutable.Map.empty[LogicalPlan, Vector[Expression]]
      .withDefaultValue(Vector.empty)

    def mkEdge(op: PredicateOp, a: Attribute, b: Attribute): Boolean =
      (relOf(a), relOf(b)) match {
        case (Some(ra), Some(rb)) if ra != rb =>
          edgeSpecs += ((JoinEdge(names(ra), names(rb), a.name, b.name, op),
            Map(names(ra) -> a, names(rb) -> b)))
          true
        case _ => false
      }

    conds.foreach { c =>
      val isEdge = c match {
        case EqualTo(a: Attribute, b: Attribute) => mkEdge(PredicateOp.EQ, a, b)
        case LessThan(a: Attribute, b: Attribute) => mkEdge(PredicateOp.LT, a, b)
        case LessThanOrEqual(a: Attribute, b: Attribute) => mkEdge(PredicateOp.LE, a, b)
        case GreaterThan(a: Attribute, b: Attribute) => mkEdge(PredicateOp.GT, a, b)
        case GreaterThanOrEqual(a: Attribute, b: Attribute) => mkEdge(PredicateOp.GE, a, b)
        case Not(EqualTo(a: Attribute, b: Attribute)) => mkEdge(PredicateOp.NE, a, b)
        case _ => false
      }
      if (!isEdge) {
        val refRels = c.references.toSeq.flatMap(relOf(_)).distinct
        if (refRels.size == 1 && c.deterministic) residual(refRels.head) :+= c
        else return None
      }
    }

    // Each edge written in one direction by name, so the DP's input does
    // not depend on which way the query (or the tree a previous iteration
    // rebuilt) writes a condition.
    val specs = edgeSpecs.result().map { case (e, m) =>
      (if (e.leftTable > e.rightTable) e.swapInnerOuter else e, m)
    }
    val joinEdges = specs.map(_._1).distinct
    if (joinEdges.isEmpty || joinEdges.size > MaxEdges) return None
    // The memo's reference-faithful identity ignores op (PlanCache keys,
    // JoinGraph.scala:59): two edges identical up to op would collide.
    // Checked on the canonical edges, so `a.x <= b.y AND b.y <= a.x`
    // collides too.
    if (joinEdges.map(e => (e.leftTable, e.rightTable, e.leftField, e.rightField))
      .distinct.size != joinEdges.size) return None
    // JoinEdge identity is by column NAME: two conjuncts binding
    // DIFFERENT attributes that share a name (a flattened-opaque leaf —
    // e.g. a hinted join — can expose duplicate output names) collapse
    // to one JoinEdge, and the rebuilt tree would enforce only one of
    // the two predicates — silently returning rows the authored query
    // filtered out. Decline whenever one edge key carries more than one
    // distinct attribute binding. (A literally duplicated conjunct —
    // same attributes — dedups safely above.)
    if (specs.groupBy(_._1).exists { case (_, ss) => ss.map(_._2).distinct.size > 1 })
      return None

    val byName = names.map(_.swap)
    val peeled: Map[String, (LogicalPlan, Seq[Expression])] =
      byName.map { case (n, rel) => n -> peel(rel) }

    val statsAndSel: Map[String, (TableStats, Double)] = byName.map { case (n, rel) =>
      val (base, peeledFilters) = peeled(n)
      val registered = StatsRegistry.forPlan(base)
      val ts = registered.getOrElse(fallbackStats(base))
      val sel = (peeledFilters ++ residual(rel))
        .foldLeft(1.0)((acc, f) => acc * predicateSelectivity(registered, f))
      n -> (ts, sel)
    }
    val stats = statsAndSel.map { case (n, (ts, _)) => n -> ts }
    val filterSel = statsAndSel.collect { case (n, (_, s)) if s < 1.0 => n -> s }

    // reference pkey convention: the base relation's first column
    val isPkey = (tbl: String, colName: String) =>
      peeled(tbl)._1.output.headOption.exists(_.name == colName)

    // ndv-aware m:n refinement (see NdvAwareJoinOptimizer): column
    // ranges come from registered stats' pass-1 min/max
    val ndvOf = (t: String, f: String) => stats.get(t).flatMap(_.estimateNdv(f))
    val order = new NdvAwareJoinOptimizer(joinEdges, ndvOf).orderJoins(stats, filterSel, isPkey)
    if (order.isEmpty) return None

    /** The left-deep leaf order an edge order builds, and per edge after
      * the first the relation it brings in (None: both its tables are
      * already placed, so it becomes a Filter over the tree).
      */
    def placement(order: Vector[JoinEdge]): Option[(Vector[String], Vector[Option[String]])] = {
      var placed = Vector(order.head.leftTable, order.head.rightTable)
      val newSides = order.tail.map { e =>
        if (placed.contains(e.leftTable) && placed.contains(e.rightTable)) None
        else if (placed.contains(e.leftTable) || placed.contains(e.rightTable)) {
          val newSide = if (placed.contains(e.leftTable)) e.rightTable else e.leftTable
          placed :+= newSide
          Some(newSide)
        } else {
          // Defensive: the DP only ever extends a plan by an edge sharing
          // a table with it (computeCostAndCardOfSubplan declines cross
          // products), so a full-set order is prefix-connected and this
          // branch is unreachable unless that contract breaks. Decline
          // rather than build a tree whose condition references an absent
          // relation.
          return None
        }
      }
      Some((placed, newSides))
    }
    val (leafOrder, newSides) = placement(order).getOrElse(return None)

    // fold the order back into a left-deep Join tree
    val attrFor: Map[JoinEdge, Map[String, Attribute]] =
      (specs.map { case (e, m) => e -> m } ++
        specs.map { case (e, m) => e.swapInnerOuter -> m }).toMap

    def cond(e: JoinEdge): Expression = {
      val l = attrFor(e)(e.leftTable)
      val r = attrFor(e)(e.rightTable)
      e.op match {
        case PredicateOp.EQ => EqualTo(l, r)
        case PredicateOp.NE => Not(EqualTo(l, r))
        case PredicateOp.LT => LessThan(l, r)
        case PredicateOp.LE => LessThanOrEqual(l, r)
        case PredicateOp.GT => GreaterThan(l, r)
        case PredicateOp.GE => GreaterThanOrEqual(l, r)
      }
    }
    // conjuncts consumed from join conditions (not part of any leaf
    // subtree) re-attach as Filters over their relation
    def leafOf(tbl: String): LogicalPlan =
      residual(byName(tbl)).foldLeft(byName(tbl))((p, f) => Filter(f, p))

    // A relation touched by NO join edge (`FROM a, b, c WHERE a.k = b.k`
    // leaves c edgeless) never gets placed; rebuilding would silently drop
    // it and the restoring Project would reference absent attributes.
    // Decline — Spark keeps the authored cross join.
    if (leafOrder.size != rels.size) return None

    // The current tree already has the DP's order when it is left-deep
    // (no spine join's right input is itself a chain join) and its leaves
    // read in that order. Settle it in place: where the conditions sit is
    // pushdown's business, and rebuilding would only invite column pruning
    // to re-insert its Projects, changing the hash again. If a later
    // iteration reshapes a leaf, the hashes no longer match and the DP
    // re-runs with the updated inputs (see OrderedTag).
    if (spineJoins.forall(j => ChainJoin.unapply(j.right).isEmpty) &&
        leafOrder == rels.map(names)) {
      spineJoins.foreach(settle)
      return None
    }

    // tag each constructed spine join as settled HERE — and only these,
    // never joins living inside the opaque leaf subtrees
    def mkJoin(l: LogicalPlan, r: LogicalPlan, c: Expression): LogicalPlan = {
      val j = Join(l, r, Inner, Some(c), JoinHint.NONE)
      settle(j)
      j
    }
    val tree = order.tail.zip(newSides).foldLeft(mkJoin(leafOf(order.head.leftTable),
        leafOf(order.head.rightTable), cond(order.head))) {
      case (t, (e, Some(newSide))) => mkJoin(t, leafOf(newSide), cond(e))
      case (t, (e, None)) => Filter(cond(e), t)
    }
    // Reordering permutes the join output's attribute order; restore the
    // original order for parents that are position-sensitive (same move
    // as Catalyst's CostBasedJoinReorder).
    if (tree.output == root.output) Some(tree)
    else Some(Project(root.output, tree))
  }
}

/** `spark.sql.extensions` entry point: injects the Selinger reorder rule,
  * the TopKPerGroup planner strategy, and SQL bindings for the native
  * expressions (`word_shingles`, `minhash_sig`, `simhash64`,
  * `dot_product`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
  import graft.functions._

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", name, usage)

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // arity check BEFORE indexing args: a one-argument call used to die
  // with a bare IndexOutOfBoundsException carrying no function name —
  // built-ins raise a readable wrong-number-of-arguments error instead
  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.size != n) throw new IllegalArgumentException(
      s"$name expects $n argument(s), got ${args.size}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SelingerJoinReorder)
    ext.injectPlannerStrategy(_ => TopKStrategy)

    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, w) - distinct word w-shingles"),
      (args: Seq[Expression]) => {
        arity("word_shingles", args, 2)
        WordShingles(args.head, intArg(args(1), "shingle width"))
      }))

    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, k) - k-permutation minhash signature"),
      (args: Seq[Expression]) => {
        arity("minhash_sig", args, 2)
        val k = intArg(args(1), "numHashes")
        MinHashSignature(args.head,
          graft.operators.Dedup.minHashCoeffArray(k).toIndexedSeq,
          graft.operators.Dedup.HashPrime)
      }))

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit simhash of a token array"),
      (args: Seq[Expression]) => {
        arity("simhash64", args, 1)
        SimHash64(args.head)
      }))

    ext.injectFunction((FunctionIdentifier("dot_product"),
      // the NULL-ELEMENT contract is part of the registered surface: the
      // HOF formulation this replaces returned NULL on a null array
      // element (which aggregates IGNORE), dot_product returns NaN
      // (which POISONS sums) — SQL callers aggregating dot_product
      // output must filter isnan() where the HOF form needed nothing
      info("dot_product", "dot_product(a, b) - float/double array dot " +
        "product; a NULL ELEMENT on either side yields NaN (not NULL): " +
        "NaN propagates through arithmetic/aggregates where NULL would " +
        "be ignored - filter with isnan() before summing"),
      (args: Seq[Expression]) => {
        arity("dot_product", args, 2)
        DotProduct(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("sorted_intersect_count"),
      // the SORTED precondition is part of the registered surface:
      // unsorted inputs silently undercount — callers sort_array /
      // array_sort first (exactly what the engine's verify paths do)
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - distinct |a INTERSECT b| of two " +
          "SORTED bigint/string arrays (allocation-free " +
          "size(array_intersect(a, b)); inputs MUST be sorted ascending)"),
      (args: Seq[Expression]) => {
        arity("sorted_intersect_count", args, 2)
        graft.functions.SortedIntersectCount(args.head, args(1))
      }))

    ext.injectFunction((FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint",
        "rolling_fingerprint(text) - polynomial rolling-hash document fingerprint"),
      (args: Seq[Expression]) => {
        arity("rolling_fingerprint", args, 1)
        RollingFingerprint(args.head,
          graft.operators.TextAnalysis.FingerprintMod)
      }))
  }
}
